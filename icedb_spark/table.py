"""IceTable — the PySpark-native lakehouse table engine.

Capabilities mirror the reference's data-operation layer
(/root/reference/icedb/icedb.py: insert, merge, tombstone_cleanup,
remove_partitions, rewrite_partition) re-expressed as Spark jobs over explicit
file lists, with the MVCC metadata log of :mod:`icedb_spark.log` providing
snapshot isolation, time travel and the atomic commit point (one log-object
PUT after all data files land).

Scale design notes (targeting a 1000-executor cluster, not local mode):

* **Every data write** (insert, merge, GDPR rewrite, DML rewrite) goes
  through ``IceTable._write_groups``, which picks one of two paths by a
  single size gate. Above the ceiling — 32 MB of on-disk bytes when the write
  lands in one known partition, 8 MB when it may fan out — it is one Spark
  job, ``groupBy(partition).applyInArrow(write)``: one shuffle on the
  partition key, then each task writes exactly one Parquet file for its
  partition (sorted by the table sort order) directly to final storage and
  returns a 1-row manifest, so the driver collects only ``O(partitions)``
  rows, never data. At or below it, the batch collects to one Arrow table
  and the same group writer runs on the driver, skipping the shuffle and
  the Python-worker round trip. Arrow end to end; no Python row loop.
* **Reads** pass an explicit alive-file list to the Parquet reader with the
  unified log schema, so Catalyst gets column pruning + filter pushdown for
  free, and MVCC/time-travel file pruning happens driver-side before the scan
  (the reader never lists directories — O(live files) not O(all files ever)).
* **Partition pruning** is driver-side set arithmetic on the marker list
  (partition values are embedded in file paths), so a partition-restricted
  query reads only matching files regardless of table size.
* **Merge** reads only the selected small files of one partition and writes
  one file; it never touches the rest of the table.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import re
import threading
import uuid
import warnings
from contextlib import contextmanager
from dataclasses import dataclass
from typing import NamedTuple, Callable, Iterable, Optional, Union

import pyarrow as pa
import pyarrow.parquet as pq

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .log import (
    FileMarker,
    IceLogIO,
    LogState,
    LogTombstone,
    Schema,
    Storage,
    arrow_fs,
    get_log_file_info,
    now_ms,
    storage_for,
    unique_ms,
    partition_from_path,
)
from .pruning import derive_scan_hints
from .types import (
    duckdb_schema_to_spark,
    spark_schema_to_duckdb,
)

_LOG = logging.getLogger(__name__)

# gc_orphans deletes unreferenced data files by age; below this grace a
# live writer's not-yet-committed file is at real risk (and driver-vs-store
# clock skew eats into whatever margin remains)
MIN_SAFE_GC_GRACE_MS = 60_000

_PART_COL = "__ice_part"
_SPLIT_COL = "__ice_split"
_ZORDER_COL = "__ice_zorder"

# above this many candidate files, delete/update switch from one small
# Spark job per file to two cluster-wide jobs (count pass + rewrite pass) —
# a wide DML on 100k files must not schedule 100k driver-side jobs. It is
# the only strategy switch. Below it the per-file side stays because it is
# faster on few files: with ~20 candidates (the perfbench ``maintenance``
# table, seed 1, local[2]) forcing the two-job side took delete from
# 1.29 s to 2.84 s and update from 0.58 s to 1.95 s.
_DML_DISTRIBUTED_THRESHOLD = 32


def _src_file_col() -> F.Column:
    """``input_file_name()`` normalized to the same scheme-stripped form
    ``_strip_scheme`` produces driver-side (``file:///x`` → ``/x``,
    ``s3a://b/k`` → ``b/k``), so executor rows can be matched back to
    their source ``FileMarker``."""
    return F.regexp_replace(
        F.input_file_name(), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", ""
    )


# The custom insert/merge/rewrite contracts name their views `_rows` /
# `source_files` (reference API parity), and temp views are session-global —
# two threads registering + resolving concurrently would race. spark.sql()
# analyzes eagerly, so holding the lock across register+sql is sufficient.
_VIEW_LOCK = threading.Lock()

# manifest returned by each writer task: one row per written file
_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("file_bytes", T.LongType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("stats", T.StringType(), True),
    ]
)


def _stat_value(v):
    """A zone-map bound as a JSON-safe, order-preserving value, or None to
    drop the column's stats. Timestamps/dates become ISO strings (fixed-width
    format, so lexicographic order == time order); NaN/inf floats poison a
    zone map (NaN compares false against everything) and non-orderable or
    exotic types are skipped entirely."""
    import datetime
    import math

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        # normalize tz-aware values to UTC-naive so every file of a column
        # serializes with one format (lexicographic order == time order)
        # and range bounds are plain "YYYY-MM-DDTHH:MM:SS" strings
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


# reserved key inside the marker stats dict holding per-column Bloom
# filters ("<k>:<base64 bitset>"); "~" keeps it disjoint from real column
# names produced by the identifier-safe partition/schema paths
_BLOOM_KEY = "~bloom"


def _bloom_positions(value, bits: int, k: int) -> Optional[list[int]]:
    """The k bit positions of ``value`` in a ``bits``-wide Bloom filter, or
    None for types equality-pruning doesn't support (floats are excluded on
    purpose: their text forms are representation-sensitive). One md5 per
    value, k 32-bit slices of the digest — deterministic and
    engine-independent, like every other hash in this repo."""
    import hashlib

    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        raw = str(value).encode()
    elif isinstance(value, str):
        raw = value.encode()
    else:
        return None
    d = hashlib.md5(b"icebloom:" + raw).digest()
    return [int.from_bytes(d[4 * i : 4 * i + 4], "big") % bits for i in range(k)]


def _compute_bloom(
    data: pa.Table, cols: list[str], bits: int, k: int
) -> dict[str, str]:
    """Per-column Bloom bitsets over the DISTINCT values of ``data`` —
    executor-side, O(distinct) md5s per column per file. Only integer and
    string columns participate; others are silently skipped (readers treat a
    missing filter as "may contain anything")."""
    import base64

    import pyarrow.compute as pc

    out: dict[str, str] = {}
    for c in cols:
        if c not in data.column_names or data.num_rows == 0:
            continue
        typ = data.schema.field(c).type
        if not (
            pa.types.is_integer(typ)
            or pa.types.is_string(typ)
            or pa.types.is_large_string(typ)
        ):
            continue
        arr = bytearray(bits // 8)
        for v in pc.unique(data[c].combine_chunks()).to_pylist():
            pos = _bloom_positions(v, bits, k)
            if pos is None:
                continue
            for p in pos:
                arr[p >> 3] |= 1 << (p & 7)
        out[c] = f"{k}:" + base64.b64encode(bytes(arr)).decode()
    return out


def _bloom_may_contain(stats: Optional[dict], col: str, value) -> bool:
    """False only when the file's Bloom filter PROVES ``col = value`` matches
    no row. Missing/undecodable filters err on keep — Bloom pruning, like
    zone maps, may only remove provably-irrelevant files."""
    import base64

    blooms = stats.get(_BLOOM_KEY) if isinstance(stats, dict) else None
    enc = blooms.get(col) if isinstance(blooms, dict) else None
    if not isinstance(enc, str) or ":" not in enc:
        return True
    try:
        k_s, b64 = enc.split(":", 1)
        k = int(k_s)
        bitset = base64.b64decode(b64)
    except (ValueError, TypeError):
        return True
    bits = len(bitset) * 8
    if not bits or not 1 <= k <= 4:
        return True
    pos = _bloom_positions(value, bits, k)
    if not pos:
        return True
    return all(bitset[p >> 3] & (1 << (p & 7)) for p in pos)


def _compute_stats(data: pa.Table, cols: list[str]) -> Optional[dict]:
    """Per-column [min, max] over non-null values of ``data`` — the file's
    zone map. Columns that are absent, empty, all-null, or of a type we
    can't bound safely are simply omitted (readers treat a missing entry as
    "may contain anything")."""
    import pyarrow.compute as pc

    out: dict[str, list] = {}
    for c in cols:
        if c not in data.column_names or data.num_rows == 0:
            continue
        try:
            # Arrow's min_max SKIPS NaN, but Spark (and DuckDB) order NaN
            # greater than every number — a NaN row satisfies ``x >= lo``,
            # so a NaN-blind zone map would prune a file that matches.
            # Any NaN ⇒ no stats for the column at all.
            if pa.types.is_floating(data.schema.field(c).type) and pc.any(
                pc.is_nan(data[c])
            ).as_py():
                continue
            mm = pc.min_max(data[c])
            lo, hi = _stat_value(mm["min"].as_py()), _stat_value(mm["max"].as_py())
        except Exception:
            continue
        if lo is None or hi is None:
            continue
        out[c] = [lo, hi]
    return out or None


@dataclass
class PartitionField:
    """One Hive-style partition path segment ``name=<expr(row)>``.

    ``expr`` is a Spark SQL expression string evaluated against the batch
    (native, JVM-side — the fast path the reference lacked; its per-row Python
    partition functions were its own ingest bottleneck, see
    /root/reference/perf_tests/chicago_taxis/README.md:186-189).
    """

    name: str
    expr: str


class PartitionSpec:
    """Computes the partition path string for every row of a batch.

    Three modes, mirroring the reference API surface:

    * native fields (default, scale path): list of :class:`PartitionField`
    * ``python_fn``: arbitrary ``dict -> str`` callable (slow path, applied
      via a Python UDF; reference ``icedb/icedb.py:22``)
    * rows that carry a precomputed ``_partition`` column are ALWAYS placed
      by it (``icedb/icedb.py:191-196``); the table's ``preserve_partition``
      flag only controls whether ``_partition`` is retained as a data column
      in the written files
    """

    def __init__(
        self,
        fields: Optional[list[PartitionField]] = None,
        python_fn: Optional[Callable[[dict], str]] = None,
    ):
        if (fields is None) == (python_fn is None):
            raise ValueError("provide exactly one of fields / python_fn")
        self.fields = fields
        self.python_fn = python_fn

    def partition_column(self, df: DataFrame) -> F.Column:
        if self.fields is not None:
            # a NULL field value must not truncate the path (concat_ws drops
            # null args -> wrong depth -> rows invisible to partition-pruned
            # reads); use the Hive null-partition convention instead
            segments = [
                F.concat(
                    F.lit(f.name + "="),
                    F.coalesce(
                        F.expr(f.expr).cast("string"),
                        F.lit("__HIVE_DEFAULT_PARTITION__"),
                    ),
                )
                for f in self.fields
            ]
            return F.concat_ws("/", *segments)
        fn = self.python_fn
        schema = df.schema

        @F.udf(returnType=T.StringType())
        def _part(*values):
            row = dict(zip([f.name for f in schema.fields], values))
            return fn(row)

        return _part(*[F.col(f.name) for f in schema.fields])


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas outside parens/quotes (SET a = f(x, y), b = 2)."""
    out, depth, start, i, q = [], 0, 0, 0, None
    while i < len(s):
        c = s[i]
        if q:
            if c == q:
                q = None
        elif c in "'\"":
            q = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
        i += 1
    out.append(s[start:])
    return [p for p in (x.strip() for x in out) if p]


def _maintenance_op(fn):
    """Hold the table's ``lock_provider`` (if configured) for the duration
    of an exclusive maintenance operation. Reentrant within a thread, so
    compound operations (``optimize`` -> ``merge_all`` -> ``merge``)
    acquire the external lock exactly once. At the outermost level (after
    the lock is held, so a transaction commit holding participant locks
    serializes cleanly) the pending-transaction guard refuses to rewrite
    while an uncommitted transaction involves this table — see
    :meth:`IceTable._txn_guard`."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._maintenance_lock(fn.__name__):
            if getattr(self._lock_local, "depth", 0) <= 1:
                self._txn_guard(fn.__name__)
            return fn(self, *args, **kwargs)

    return wrapper


def parse_partition(part: str) -> dict[str, str]:
    """``u=a/d=2023-06-07`` → ``{"u": "a", "d": "2023-06-07"}``."""
    out: dict[str, str] = {}
    for seg in part.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


# Below this many input rows the rows-path insert writes driver-side: the
# distributed writer's fixed cost (shuffle stage + Python-worker round trip,
# ~0.5 s even for a 16-row codebook) dwarfs a single-threaded Arrow write of
# a batch this small on any hardware, so the cutoff is scale-independent.
# A parallelized row list has no optimizer estimate (it reports the
# Long.MaxValue sentinel), so rows are sized by count, not bytes.
_SMALL_BATCH_ROWS = 10_000

# Driver-local write ceilings (optimization r13). A write whose size is at
# or below its ceiling collects to one Arrow table and runs the group
# writer on the driver instead of a shuffle + Python-worker job. The size
# is the caller's known on-disk bytes (merge source markers, the GDPR
# source file) or else the optimizer estimate, which for a Parquet scan is
# on-disk bytes too (fileCompressionFactor 1.0) — so both ceilings are in
# ON-DISK bytes, and a highly compressible input can decode far larger.
# That case is what spark.driver.maxResultSize catches: the collect aborts
# and the write falls back to the distributed writer. Gating on decoded
# size would need a row count in the file marker (a log-format change).
#
# One known partition (merge, GDPR rewrite, pinned DML rewrite): one output
# file, and a 32 MB collect is driver-safe on any cluster.
_LOCAL_PART_BYTES = 32 << 20
# A write that may fan out to many partitions (insert, unpinned DML): the
# distributed writer handles partitions in parallel — measured: a 1 M-row
# / 100-partition / ~32 MB batch writes in 1.2 s distributed vs 5 s
# driver-local, while sub-8 MB batches win locally.
_LOCAL_FANOUT_BYTES = 8 << 20
# write_splits="auto": one writer task per this many estimated bytes.
_WRITE_SPLIT_BYTES = 8 << 20


def _result_size_exceeded(exc: Py4JJavaError) -> bool:
    """True when ``exc`` is the failure the driver-local write falls back
    on: a SparkException whose cause chain names
    ``spark.driver.maxResultSize`` (the collect outgrew the driver's
    result-size limit). Every other failure — including Arrow conversion
    errors, which the distributed writer hits identically — propagates."""
    j = exc.java_exception
    while j is not None:
        if j.getClass().getName() == "org.apache.spark.SparkException" and (
            "spark.driver.maxResultSize" in str(j.getMessage())
        ):
            return True
        j = j.getCause()
    return False


def _result_size_limit(spark: SparkSession) -> int:
    """``spark.driver.maxResultSize`` in bytes; 0 means no limit, as in
    Spark."""
    return _parse_bytes_conf(
        spark.conf.get("spark.driver.maxResultSize", "1g"), 1 << 30
    )


def _manifest_markers(manifest, created_ms: int = 0) -> list[FileMarker]:
    """Group-writer manifest rows (dicts or collected Rows shaped like
    ``_MANIFEST_SCHEMA``) as file markers stamped ``created_ms`` — 0 for
    markers the caller stamps at commit."""
    return [
        FileMarker(
            path=r["path"],
            created_ms=created_ms,
            file_bytes=r["file_bytes"],
            stats=json.loads(r["stats"]) if r["stats"] else None,
        )
        for r in manifest
    ]


def _make_group_writer(
    root: str,
    sort_order: list[str],
    compression: str,
    row_group_size: int,
    stats_cols: Optional[list[str]] = None,
    bloom_spec: Optional[tuple[list[str], int, int]] = None,
    fs_options: Optional[dict] = None,
):
    """Build the executor-side arrow group writer.

    Returns a callable for ``groupBy(part).applyInArrow``: sorts the group by
    the table sort order, strips internal columns, writes exactly one Parquet
    file under ``_data/<partition>/`` and returns a 1-row manifest table
    (including the file's zone map over ``stats_cols``, computed on the
    in-memory Arrow table — no second read). Data never flows back to the
    driver.
    """

    def write_group(table: pa.Table) -> pa.Table:
        part = table.column(_PART_COL)[0].as_py()
        # sort first (the sort key may be an internal layout column, e.g.
        # the z-order code), then strip every internal column
        keys = [(c, "ascending") for c in sort_order if c in table.column_names]
        if keys:
            table = table.sort_by(keys)
        drop = [
            c for c in (_PART_COL, _SPLIT_COL, _ZORDER_COL)
            if c in table.column_names
        ]
        data = table.drop_columns(drop)
        rel_dir = f"_data/{part}" if part else "_data"
        name = f"{uuid.uuid4()}.parquet"
        if "://" in root:
            # URI roots (file://, s3://, ...): write through pyarrow.fs on
            # the executor, the same client the driver's storage uses
            # (``arrow_fs``). Direct write to the final name is safe on
            # every backend — visibility comes from the LOG commit, never
            # from object existence, so a partial file is unreferenced
            # garbage. ``fs_options`` (IceTable(storage_options=...))
            # configure the executor-side client EXPLICITLY — required
            # when workers were launched before credentials/endpoint env
            # vars existed, and the clean channel for per-table
            # credentials generally.
            fs, base = arrow_fs(root, fs_options)
            full = f"{base.rstrip('/')}/{rel_dir}/{name}"
            fs.create_dir(f"{base.rstrip('/')}/{rel_dir}", recursive=True)
            with fs.open_output_stream(full) as sink:
                pq.write_table(
                    data, sink,
                    compression=compression, row_group_size=row_group_size,
                )
            nbytes = fs.get_file_info(full).size
        else:
            out_dir = os.path.join(root, rel_dir)
            os.makedirs(out_dir, exist_ok=True)
            final = os.path.join(out_dir, name)
            tmp = final + ".tmp-" + uuid.uuid4().hex
            pq.write_table(
                data,
                tmp,
                compression=compression,
                row_group_size=row_group_size,
            )
            os.rename(tmp, final)
            nbytes = os.path.getsize(final)
        stats = _compute_stats(data, stats_cols) if stats_cols else None
        if bloom_spec:
            b_cols, b_bits, b_k = bloom_spec
            blooms = _compute_bloom(data, b_cols, b_bits, b_k)
            if blooms:
                stats = dict(stats or {})
                stats[_BLOOM_KEY] = blooms
        return pa.table(
            {
                "part": [part],
                "path": [f"{rel_dir}/{name}"],
                "file_bytes": [nbytes],
                "rows": [data.num_rows],
                # explicit cast: a None-only column would infer null type
                # and fail the manifest schema check
                "stats": pa.array(
                    [json.dumps(stats) if stats else None], type=pa.string()
                ),
            }
        )

    return write_group


def _write_arrow_groups(tbl: pa.Table, writer) -> list[dict]:
    """Split an Arrow table on ``_PART_COL`` and run ``writer`` (a
    :func:`_make_group_writer` closure) once per partition — the same
    groups ``groupBy(_PART_COL).applyInArrow(writer)`` forms, so the files
    are identical; only where the writer runs differs. Returns manifest
    dicts shaped like ``_MANIFEST_SCHEMA`` rows. Used on the driver by the
    local write path and on executors by the ``format("icedb")`` writer."""
    import pyarrow.compute as pc

    if tbl.num_rows == 0:
        return []
    part_col = tbl.column(_PART_COL)
    parts = pc.unique(part_col).to_pylist()
    if len(parts) == 1:
        return [writer(tbl).to_pylist()[0]]
    parts.sort(key=lambda x: (x is None, x))
    # vectorized masks (a per-row Python comparison list was O(rows x
    # partitions) — measured as the ingest collapse when the estimate gate
    # briefly admitted 1 M-row batches)
    return [
        writer(
            tbl.filter(pc.is_null(part_col) if p is None else pc.equal(part_col, p))
        ).to_pylist()[0]
        for p in parts
    ]


class StagedInsert(NamedTuple):
    """An ``insert(publish=False)`` result: written-but-uncommitted files
    plus the batch schema :meth:`IceTable.publish` needs for the commit."""

    markers: list
    schema: Schema


class IceTable:
    """One lakehouse table: a storage root holding ``_data/`` + ``_log/``.

    Reference parity: the constructor knobs correspond 1:1 to
    ``IceDBv3.__init__`` (/root/reference/icedb/icedb.py:27-78) — partition
    spec, sort order, custom insert/merge SQL, row-group size, codec,
    ``preserve_partition``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_spec: PartitionSpec,
        sort_order: Optional[list[str]] = None,
        custom_insert_query: Optional[str] = None,
        custom_merge_query: Optional[str] = None,
        row_group_size: int = 122_880,
        compression: str = "snappy",
        preserve_partition: bool = False,
        log_storage: Optional[Storage] = None,
        write_splits: int = 1,
        zorder_by: Optional[list[str]] = None,
        format_row: Optional[Callable[[dict], dict]] = None,
        stats_columns: Optional[list[str]] = None,
        bloom_columns: Optional[list[str]] = None,
        bloom_bits: int = 8192,
        bloom_k: int = 4,
        constraints: Optional[dict[str, str]] = None,
        constraint_mode: str = "fail",
        lock_provider: Optional[Callable[[str], "object"]] = None,
        storage_options: Optional[dict] = None,
        commit_visibility: Optional[object] = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_spec = partition_spec
        self.sort_order = sort_order or []
        self.custom_insert_query = custom_insert_query
        self.custom_merge_query = custom_merge_query
        self.row_group_size = row_group_size
        self.compression = compression
        self.preserve_partition = preserve_partition
        # >1 fans each partition's insert across N writer tasks / N files
        # (the log tracks files individually and merge re-compacts, so
        # multiple files per partition per insert is already within the
        # format's contract). Use when single partitions receive more data
        # per batch than one task should write; 1 keeps the reference's
        # one-file-per-partition behavior. "auto" derives the fan-out per
        # batch from the optimizer's size estimate (see
        # _resolve_write_splits) — a skew-heavy batch fans out, a small
        # one keeps single files.
        self.write_splits = (
            "auto" if write_splits == "auto" else max(1, int(write_splits))
        )
        # multi-dimensional clustering: files are laid out by the Morton
        # code of these columns instead of lexicographic sort_order, giving
        # row-group min/max pruning on EVERY listed column (see
        # operators/zorder.py). Mutually exclusive with sort_order in
        # effect: when set, it wins.
        self.zorder_by = zorder_by
        # v2-parity pre-insert row transform (reference examples/
        # api-flask.py:156-161: e.g. JSON-stringify nested dicts). Applied
        # per row dict on the rows-ingest path ONLY — DataFrame ingest is
        # the scale path and uses custom_insert_query / a caller-side
        # transform instead (vectorized, executor-side).
        self.format_row = format_row
        # Zone maps: per-file [min, max] of these columns is captured at
        # every write and carried in the log marker, enabling driver-side
        # file skipping (read(column_ranges=...)) WITHOUT opening a single
        # footer — at 100 TB the scan plan prunes on O(markers) metadata,
        # not O(files) I/O. Defaults to the clustering columns (sort_order /
        # zorder_by), where layout makes ranges tight and skipping pays.
        self.stats_columns = stats_columns
        # Bloom filters: per-file bitsets over the DISTINCT values of these
        # (int/string) columns, carried in the log marker next to the zone
        # map. Enables driver-side file skipping for EQUALITY predicates on
        # unclustered high-ish-cardinality columns where min/max ranges are
        # too wide to prune (read(column_equals=...)). Size ``bloom_bits``
        # at ~10x the expected distinct values per file for ~1% false
        # positives; the log cost is bits/8 bytes (b64) per column per file
        # — keep the column list short, this is catalog-resident state.
        if bloom_bits % 8 or bloom_bits <= 0:
            raise ValueError("bloom_bits must be a positive multiple of 8")
        if not 1 <= bloom_k <= 4:
            raise ValueError("bloom_k must be in 1..4 (md5 yields 4 slices)")
        self.bloom_columns = bloom_columns
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k
        # CHECK constraints (the Delta CHECK / DLT expectations analog):
        # name -> SQL boolean expr every ingested row must satisfy. SQL
        # CHECK semantics — NULL passes; only a FALSE evaluation violates.
        # Enforced on insert() (and therefore on everything routed through
        # it: streaming ingest, DoubleWriter, IncrementalView deltas).
        # ``constraint_mode``: 'fail' aborts the whole batch BEFORE any
        # file is written (one extra aggregate pass reporting per-rule
        # violation counts); 'drop' silently filters violating rows (no
        # extra job — the filter fuses into the insert's scan). For a
        # quarantine flow, split with quality.split_valid() and route the
        # invalid side to a second table yourself.
        if constraint_mode not in ("fail", "drop"):
            raise ValueError("constraint_mode must be 'fail' or 'drop'")
        self.constraints = dict(constraints or {})
        self.constraint_mode = constraint_mode
        # Exclusive-lock hook for multi-node maintenance: the reference
        # REQUIRES callers to hold an external exclusive lock around
        # merge/vacuum (/root/reference/ARCHITECTURE.md:115-117,
        # README.md:600-616) but cannot enforce it; this turns the
        # documented contract into an enforceable one. A provider is a
        # callable ``op_name -> context manager`` held for the whole
        # operation (every rewrite/vacuum path below is decorated with
        # @_maintenance_op). ``locks.file_lock_provider`` covers shared-
        # filesystem deployments; object-store deployments plug a
        # DynamoDB / ZooKeeper / Postgres advisory lock with the same
        # shape. Default None keeps the reference behavior: the caller
        # manages locking. Inserts never take the lock — concurrent
        # lock-free inserts are safe by the log design.
        self.lock_provider = lock_provider
        self._lock_local = threading.local()
        # explicit object-store client config (credentials, endpoint,
        # region ...) for the driver-side storage AND the executor-side
        # Arrow writers and readers; None = ambient resolution (env
        # vars / profiles / IMDS), the usual production default
        self.storage_options = storage_options
        # cross-table transaction visibility (icedb_spark.txn): an object
        # with refresh() + is_visible(log_key) that hides txn-tagged
        # commits whose transaction never committed. Runtime wiring only
        # (never persisted in the spec): the catalog attaches it to every
        # table it registers when transactions are enabled.
        self.commit_visibility = commit_visibility
        # scheme-dispatched: plain/``file://`` -> POSIX, ``s3://`` etc. ->
        # pyarrow.fs; reads go through storage.absolute() URIs
        self.storage = storage_for(self.path, storage_options)
        # log may live on a separate (lower-latency) store than data —
        # reference keeps separate log/data S3 clients with own credentials
        # (icedb/icedb.py:75-78); pass any Storage-like object here
        self.log_storage = log_storage or self.storage
        self.log_io = IceLogIO()
        self._persist_spec()

    @contextmanager
    def _tagged_commits(self, tag: str, timestamp_ms: int):
        """Scope for the txn layer: DML commits inside it are tagged and
        pinned to the transaction's shared instant (thread-local, so a
        concurrent plain writer on another thread is unaffected)."""
        self._lock_local.txn_override = (tag, timestamp_ms)
        try:
            yield
        finally:
            self._lock_local.txn_override = None

    @contextmanager
    def _maintenance_lock(self, op: str):
        local = self._lock_local
        depth = getattr(local, "depth", 0)
        if self.lock_provider is None or depth:
            local.depth = depth + 1
            try:
                yield
            finally:
                local.depth -= 1
            return
        with self.lock_provider(op) as lease:
            local.depth = 1
            local.lease = lease
            try:
                yield
            finally:
                local.depth = 0
                local.lease = None

    def _fence(self) -> Optional[int]:
        """Commit-time fencing check (VERDICT r8 #3). Called immediately
        before each maintenance op's atomic log PUT: if the configured
        lock provider yielded a lease with a liveness interface
        (:class:`icedb_spark.locks.Lease`), re-check it against the
        store and raise :class:`icedb_spark.locks.LockLostError` when a
        stealer owns the lock — a holder paused past its TTL (GC stop,
        network partition) must NOT commit over the stealer's work.
        Returns the lease's fencing token (or ``None``) so the commit
        stamps it into the log metadata line, making stale-fenced
        commits auditable after the fact."""
        lease = getattr(self._lock_local, "lease", None)
        if lease is None:
            return None
        verify = getattr(lease, "verify", None)
        if verify is not None:
            verify()
        return int(lease) if isinstance(lease, int) else None

    # -------------------------------------------------------------- metadata

    _SPEC_KEY = "_meta/spec.json"

    def _spec_doc(self) -> Optional[dict]:
        spec = self.partition_spec
        if spec is None or spec.fields is None:
            return None  # python_fn specs are not serializable
        return {
            "version": 1,
            "partition_fields": [
                {"name": f.name, "expr": f.expr} for f in spec.fields
            ],
            "sort_order": self.sort_order,
            "zorder_by": self.zorder_by,
            "stats_columns": self.stats_columns,
            "bloom_columns": self.bloom_columns,
            "bloom_bits": self.bloom_bits,
            "bloom_k": self.bloom_k,
            "row_group_size": self.row_group_size,
            "compression": self.compression,
            "write_splits": self.write_splits,
            "preserve_partition": self.preserve_partition,
        }

    def _persist_spec(self) -> None:
        """Best-effort table metadata under ``_meta/spec.json`` so a later
        :meth:`IceTable.open` (or the DataSource) can reconstruct the table
        without the caller restating the spec — the Iceberg-metadata-file
        analog the reference lacks (its constructor IS the metadata).
        Last writer wins: partition evolution simply records the newest
        spec. A storage error (read-only storage, say) fails only the
        persist, with a WARNING, never the constructor."""
        doc = self._spec_doc()
        if doc is None:
            return
        payload = json.dumps(doc, sort_keys=True).encode()
        try:
            if self.log_storage.exists(self._SPEC_KEY) and (
                self.log_storage.get(self._SPEC_KEY) == payload
            ):
                return
            self.log_storage.put(self._SPEC_KEY, payload)
        except OSError as exc:
            _LOG.warning(
                "could not persist %s under %s: %r",
                self._SPEC_KEY, self.path, exc,
            )

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        log_storage: Optional[Storage] = None,
        **overrides,
    ) -> "IceTable":
        """Open an existing table from its persisted ``_meta/spec.json`` —
        no spec restating. Keyword ``overrides`` replace any persisted
        knob (e.g. ``constraints=...``, which is never persisted because
        rules are enforcement policy, not layout)."""
        store = log_storage or storage_for(path.rstrip("/"))
        try:
            doc = json.loads(store.get(cls._SPEC_KEY).decode())
        except Exception:
            raise ValueError(
                f"no persisted table metadata at {path}/{cls._SPEC_KEY} — "
                "construct IceTable(...) with an explicit partition_spec "
                "once; it persists the spec for open()"
            ) from None
        kw = dict(
            partition_spec=PartitionSpec(
                fields=[
                    PartitionField(f["name"], f["expr"])
                    for f in doc["partition_fields"]
                ]
            ),
            sort_order=doc.get("sort_order") or None,
            zorder_by=doc.get("zorder_by"),
            stats_columns=doc.get("stats_columns"),
            bloom_columns=doc.get("bloom_columns"),
            bloom_bits=doc.get("bloom_bits", 8192),
            bloom_k=doc.get("bloom_k", 4),
            row_group_size=doc.get("row_group_size", 122_880),
            compression=doc.get("compression", "snappy"),
            write_splits=doc.get("write_splits", 1),
            preserve_partition=doc.get("preserve_partition", False),
        )
        kw.update(overrides)
        return cls(spark, path, log_storage=log_storage, **kw)

    # ------------------------------------------------------------------ write

    def _prepare_batch(self, df: DataFrame) -> DataFrame:
        """Apply custom insert SQL and attach the partition column."""
        if self.custom_insert_query:
            with _VIEW_LOCK:
                df.createOrReplaceTempView("_rows")
                df = self.spark.sql(self.custom_insert_query)
        return self._attach_partition(df)

    def _attach_partition(self, df: DataFrame) -> DataFrame:
        """Attach ``_PART_COL`` placement to a batch: an explicit
        ``_partition`` value always wins, else the partition function.
        Shared by ``insert`` (via ``_prepare_batch``) and the row-level DML
        rewrites (``update`` / ``merge_into``), whose transformed rows may
        move partitions and therefore need placement recomputed."""
        if "_partition" in df.columns:
            # Reference parity (icedb/icedb.py:191-196): a row's _partition
            # value ALWAYS wins for placement; preserve_partition only
            # controls whether the column is retained in the written data.
            # Null rows (the DF analog of "key absent") fall back to the
            # partition function when it is computable over this batch —
            # analysis of the fallback expression happens at withColumn, so
            # the try must wrap THAT (a batch carrying only _partition may
            # lack the partition expression's source columns entirely).
            from pyspark.errors import AnalysisException

            try:
                df2 = df.withColumn(
                    _PART_COL,
                    F.coalesce(
                        F.col("_partition").cast("string"),
                        self.partition_spec.partition_column(df),
                    ),
                )
            except AnalysisException:
                # The fallback expression doesn't resolve against this
                # batch. That is legal ONLY while no row needs it: the
                # reference calls the partition fn solely for rows without
                # a _partition key (icedb/icedb.py:191-196), so a batch of
                # fully-precomputed rows may lack the source columns
                # entirely. But if any _partition is NULL, that row NEEDS
                # the function — degrading would file it under the bare
                # root, invisible to every partition-pruned read. Surface
                # the real error (typo'd spec, renamed column) instead.
                if df.where(F.col("_partition").isNull()).limit(1).count() > 0:
                    raise
                df2 = df.withColumn(_PART_COL, F.col("_partition").cast("string"))
            df = df2
            if not self.preserve_partition:
                df = df.drop("_partition")
        else:
            df = df.withColumn(
                _PART_COL, self.partition_spec.partition_column(df)
            )
        return df

    def _stats_cols(self) -> list[str]:
        if self.stats_columns is not None:
            return self.stats_columns
        return list(dict.fromkeys([*self.sort_order, *(self.zorder_by or [])]))

    def _bloom_spec(self) -> Optional[tuple[list[str], int, int]]:
        if not self.bloom_columns:
            return None
        return (self.bloom_columns, self.bloom_bits, self.bloom_k)

    def _resolve_write_splits(self, df: DataFrame) -> int:
        """Per-batch effective write fan-out. ``"auto"`` derives it from
        the optimizer's size estimate for the batch (free — no job):
        one writer task per ``_WRITE_SPLIT_BYTES`` (8 MB of estimated
        input), capped at ``defaultParallelism`` so the
        cap grows with the cluster, floored at 1 so small batches keep
        the reference's one-file-per-partition layout. The bottleneck
        this sizes for is the writer task PIPELINE (shuffle fetch + JVM
        to Arrow conversion + Python transfer), which is serial per
        task: measured 3.4 s for a 1 M-row single-partition batch at one
        split vs 1.4 s at eight (sort+write alone are 0.8 s)."""
        if self.write_splits != "auto":
            return self.write_splits
        est = self._estimated_bytes(df)
        if est is None:
            return 1
        par = self.spark.sparkContext.defaultParallelism
        return max(1, min(-(-est // _WRITE_SPLIT_BYTES), par))

    @staticmethod
    def _estimated_bytes(df: DataFrame) -> Optional[int]:
        """The optimizer's size estimate for a batch (free — no job), or
        None when the plan is un-estimable (e.g. a parallelized local
        relation reports spark.sql.defaultSizeInBytes = Long.MaxValue —
        never trust the sentinel)."""
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return None
        if est <= 0 or est >= 1 << 60:
            return None
        return est

    def _attach_split(self, df: DataFrame, sort_cols: list[str], n: int) -> DataFrame:
        """Assign each row its write-split file (effective splits > 1).

        Plain tables split randomly — parallelism is the only goal. A
        z-ordered batch instead splits on CONTIGUOUS z-ranges (boundaries
        from one approxQuantile sketch pass, assignment a pure monotone
        column expression), so each file covers a narrow slice of the
        Morton curve and its FILE-level zone map stays selective on every
        z column — ``files_for(column_ranges=...)`` then skips whole
        files driver-side, not just row groups inside them. Random splits
        would hand every file the full domain and zero any file-level
        pruning the z layout earned."""
        if sort_cols == [_ZORDER_COL]:
            cuts = df.stat.approxQuantile(
                _ZORDER_COL, [i / n for i in range(1, n)], 0.01
            )
            split = F.lit(0)
            for c in cuts:  # monotone: number of boundaries passed
                split = split + (F.col(_ZORDER_COL) > F.lit(c)).cast("int")
            return df.withColumn(_SPLIT_COL, split)
        return df.withColumn(
            _SPLIT_COL, F.floor(F.rand(42) * n).cast("int")
        )

    def _apply_layout(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        """Attach the layout sort key: z-order code when configured (and the
        batch carries every z column), else the plain sort_order."""
        if self.zorder_by and all(c in df.columns for c in self.zorder_by):
            from .operators.zorder import zorder_dataframe

            return (
                zorder_dataframe(df, self.zorder_by, out_col=_ZORDER_COL),
                [_ZORDER_COL],
            )
        return df, self.sort_order

    def get_schema(self, rows: Optional[list[dict]] = None, df: Optional[DataFrame] = None) -> Schema:
        """Dry-run schema introspection of a batch (no writes) —
        reference ``get_schema`` (/root/reference/icedb/icedb.py:110-123)."""
        if df is None:
            if self.format_row:
                rows = [self.format_row(dict(r)) for r in rows]
            df = self.spark.createDataFrame(rows)
        if self.custom_insert_query:
            with _VIEW_LOCK:
                df.createOrReplaceTempView("_rows")
                df = self.spark.sql(self.custom_insert_query)
        drop = {_PART_COL} | (set() if self.preserve_partition else {"_partition"})
        cols = spark_schema_to_duckdb(
            T.StructType([f for f in df.schema.fields if f.name not in drop])
        )
        s = Schema()
        s.accumulate(list(cols.keys()), list(cols.values()))
        return s

    def insert(
        self,
        rows: Optional[list[dict]] = None,
        df: Optional[DataFrame] = None,
        commit_tag: Optional[str] = None,
        publish: bool = True,
    ) -> "list[FileMarker] | StagedInsert":
        """Write one sorted Parquet file per touched partition, then commit
        with a single log append (reference ``insert``,
        /root/reference/icedb/icedb.py:183-221).

        Accepts either row dicts (reference-style JSON ingest) or any Spark
        DataFrame (native path — streams, CSV, other tables).

        ``publish=False`` is the write-audit-publish (WAP) pattern: the
        files are written but NO log entry is committed — the batch is
        invisible to every reader until :meth:`publish` appends it (one
        atomic commit, possibly covering several staged batches). Audit
        the staged files however you like in between (read them directly,
        run checks); abandoning a staged batch costs nothing — its files
        are never referenced and ``gc_orphans`` collects them, which also
        means a staged batch must be published within the orphan-GC grace
        window, like any in-flight writer. Returns a :class:`StagedInsert`
        instead of the marker list.

        Small batches write on the driver (see :meth:`_write_groups`):
        up to ``_SMALL_BATCH_ROWS`` row dicts, or a prepared batch (after
        any custom insert query) whose size estimate is at most
        ``_LOCAL_FANOUT_BYTES``.
        """
        nbytes = None
        if df is None:
            if not rows:
                return []
            if self.format_row:
                rows = [self.format_row(dict(r)) for r in rows]
            df = self.spark.createDataFrame(rows)
            # NOTE: do NOT coalesce(1) here. The parallelized Python list
            # is a pickled RDD; coalescing makes one task iterate every
            # parent slice SEQUENTIALLY, each paying a Python-worker round
            # trip (measured 0.3 s -> 4.4 s per tiny insert). The plain
            # parallel collect of the local write is the fast shape.
            if len(rows) <= _SMALL_BATCH_ROWS and not self.custom_insert_query:
                nbytes = 0  # sized by row count: admitted under any ceiling
        elif not self.custom_insert_query:
            # An operator may size its output with ``_icedb_est_bytes``
            # when the plan's own estimate is wildly off (the IVF/PQ index
            # rows: a C-way crossJoin multiplies it by C although the
            # groupBy after it collapses back to one row per vector).
            # Without a hint the gate estimates the prepared batch, whose
            # optimized plan the collect then reuses; estimating this
            # relation too would cost a second optimizer pass (measured
            # ~80 ms on a 40,000-row local relation).
            nbytes = getattr(df, "_icedb_est_bytes", None)
        if self.constraints:
            df = self._enforce_constraints(df)
        df = self._prepare_batch(df)

        data_fields = [f for f in df.schema.fields if f.name != _PART_COL]
        batch_schema = Schema()
        cols = spark_schema_to_duckdb(T.StructType(data_fields))
        batch_schema.accumulate(list(cols.keys()), list(cols.values()))

        written = self._write_groups(
            df, nbytes=nbytes, splits=self._resolve_write_splits(df)
        )
        ts = unique_ms()
        markers = [
            FileMarker(m.path, ts, m.file_bytes, stats=m.stats) for m in written
        ]
        if not publish:
            return StagedInsert(markers=markers, schema=batch_schema)
        if markers:
            self.log_io.append(
                self.log_storage, 1, batch_schema, markers, timestamp_ms=ts,
                tag=commit_tag,
            )
        return markers

    def _write_groups(
        self,
        df: Optional[DataFrame],
        *,
        part: Optional[str] = None,
        nbytes: Optional[int] = None,
        splits: int = 1,
        table: Optional[pa.Table] = None,
        collect: bool = True,
    ) -> list[FileMarker]:
        """The one data-write path: lay ``df`` out, write one sorted
        Parquet file per ``_PART_COL`` group (per split group when
        ``splits > 1``) and return UNSTAMPED markers — callers stamp
        ``created_ms`` at commit, so visibility stays the log append.

        ``part`` places every row in that one partition (merge, GDPR and
        pinned DML rewrites); otherwise ``df`` carries ``_PART_COL``.

        Path choice: a single-split write whose size — ``nbytes`` when the
        caller knows it, else the optimizer estimate — is at most
        ``_LOCAL_PART_BYTES`` (one known partition) or
        ``_LOCAL_FANOUT_BYTES`` (may fan out) collects to one Arrow table
        and runs the SAME group writer on the driver, skipping the
        shuffle + Python-worker job; files, stats and Blooms are
        identical. Anything else, and a local collect that outgrows
        ``spark.driver.maxResultSize``, runs
        ``groupBy(...).applyInArrow(writer)`` on the executors. Any other
        failure propagates; files a failed write left behind are
        unreferenced, and ``gc_orphans`` collects them.

        Two private inputs serve a merge (``_rewrite_for_merge``):
        ``table`` is its sources already read on the driver, written in
        place of the collect with no DataFrame at all (``df`` is None);
        ``collect=False`` skips the collect for sources that decoded past
        ``spark.driver.maxResultSize``, where it could only fail."""
        if table is None:
            df, sort_cols = self._apply_layout(df)
        else:
            sort_cols = self.sort_order  # a merge reads only un-z-ordered tables
        writer = _make_group_writer(
            self.path, sort_cols, self.compression, self.row_group_size,
            stats_cols=self._stats_cols(),
            bloom_spec=self._bloom_spec(),
            fs_options=self.storage_options,
        )
        if table is None and splits == 1 and collect:
            size = nbytes if nbytes is not None else self._estimated_bytes(df)
            ceiling = _LOCAL_FANOUT_BYTES if part is None else _LOCAL_PART_BYTES
            if size is not None and size <= ceiling:
                try:
                    table = df.toArrow()
                except Py4JJavaError as exc:
                    if not _result_size_exceeded(exc):
                        raise
                    _LOG.warning(
                        "driver-local write of %s (%d bytes) exceeded "
                        "spark.driver.maxResultSize; using the distributed "
                        "writer", self.path, size, exc_info=exc,
                    )
        if table is not None:
            if part is not None:
                # appended in Arrow: a literal column in the JVM plan slows
                # the collect (measured +40% on 20k rows)
                col = pa.array([part] * table.num_rows, pa.string())
                table = table.append_column(_PART_COL, col)
            return _manifest_markers(_write_arrow_groups(table, writer))
        if part is not None:
            df = df.withColumn(_PART_COL, F.lit(part))
        group_cols = [_PART_COL]
        cached = None
        if splits > 1:
            if sort_cols == [_ZORDER_COL]:
                # the z-range split needs a quantile pass BEFORE the
                # write job — persist so the caller's (possibly
                # expensive) upstream pipeline runs once, not twice
                cached = df = df.persist()
            df = self._attach_split(df, sort_cols, splits)
            group_cols.append(_SPLIT_COL)
        try:
            manifest = (
                df.groupBy(*group_cols)
                .applyInArrow(writer, schema=_MANIFEST_SCHEMA)
                .collect()
            )
        finally:
            if cached is not None:
                cached.unpersist()
        return _manifest_markers(manifest)

    def publish(
        self,
        staged: "StagedInsert | list[StagedInsert]",
        commit_tag: Optional[str] = None,
        timestamp_ms: Optional[int] = None,
    ) -> list[FileMarker]:
        """Commit previously staged batches (``insert(publish=False)``) in
        ONE atomic log append — several staged batches become visible at
        the same instant or not at all (the WAP publish step).
        ``timestamp_ms`` pins the commit instant (the cross-table
        transaction layer stamps every participant with the same one)."""
        batches = [staged] if isinstance(staged, StagedInsert) else list(staged)
        ts = timestamp_ms if timestamp_ms is not None else unique_ms()
        markers: list[FileMarker] = []
        schema = Schema()
        for b in batches:
            # restamp to the COMMIT instant: visibility (MOR set
            # applicability, history deltas, time travel) is defined by
            # when rows became readable, not when the staging job ran
            markers.extend(
                FileMarker(m.path, ts, m.file_bytes, stats=m.stats)
                for m in b.markers
            )
            cols = b.schema.columns()
            schema.accumulate(list(cols.keys()), list(cols.values()))
        if not markers:
            return []
        self.log_io.append(
            self.log_storage, 1, schema, markers, timestamp_ms=ts,
            tag=commit_tag,
        )
        return markers

    def _enforce_constraints(self, df: DataFrame) -> DataFrame:
        """Apply the table's CHECK constraints to an ingest batch: 'fail'
        aborts (with per-rule counts) before any file exists; 'drop'
        filters violators with zero extra jobs."""
        from . import quality

        if self.constraint_mode == "drop":
            return df.where(quality.all_ok(self.constraints))
        bad = quality.violation_counts(df, self.constraints)
        if bad:
            raise quality.ConstraintViolation(self.path, bad)
        return df

    # ------------------------------------------------------------------- read

    def snapshot(
        self,
        at_ms: Optional[int] = None,
        keep_parsed: bool = False,
        tag: Optional[str] = None,
    ) -> LogState:
        """Fold the log at (or before) ``at_ms`` — time travel when set.

        Inclusive: a commit stamped exactly ``at_ms`` is visible. The
        log-layer primitive is strict-``<`` for reference wire parity, so
        pass ``at_ms + 1`` down. ``keep_parsed`` retains the per-log parsed
        contents on the returned state for maintenance ops that would
        otherwise re-fetch every log. ``tag`` resolves a named snapshot
        (mutually exclusive with ``at_ms``)."""
        if tag is not None:
            if at_ms is not None:
                raise ValueError("pass at_ms or tag, not both")
            at_ms = self.tag_ts(tag)
        # inside a transaction's commit, every operation reads AS OF the
        # transaction's pinned instant (snapshot isolation): its commits
        # are stamped with that instant, so tombstoning anything that
        # committed AFTER it would fold in the wrong order — a plain
        # insert landing mid-commit would restate the tombstoned file
        # alive (resurrection). Reading at the pinned instant makes such
        # late commits invisible to the txn and therefore untouchable.
        ov = getattr(self._lock_local, "txn_override", None)
        if ov is not None and at_ms is None:
            at_ms = ov[1]
        vis = self.commit_visibility
        if vis is not None:
            vis.refresh()  # no-op inside a held consistent() window
        return self.log_io.read_at_max_time(
            self.log_storage,
            None if at_ms is None else at_ms + 1,
            keep_parsed=keep_parsed,
            key_filter=None if vis is None else vis.is_visible,
        )

    def _log_contents(
        self, state: LogState, concurrency: int = 32
    ) -> list[tuple[str, tuple]]:
        """(key, parsed-contents) for every log file of ``state`` — served
        from the fold's own cache when the snapshot ran with
        ``keep_parsed=True``, so maintenance bookkeeping doesn't re-GET
        every log object the snapshot just fetched (at thousands of logs
        that second pass doubles vacuum/merge request cost)."""
        missing = [k for k in state.log_files if k not in state.parsed]
        fetched: dict[str, tuple] = {}
        if missing:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(32, max(1, concurrency))
            ) as ex:
                fetched = dict(
                    zip(
                        missing,
                        ex.map(
                            lambda k: self.log_io.read_log(self.log_storage, k),
                            missing,
                        ),
                    )
                )
        return [
            (k, state.parsed.get(k) or fetched[k]) for k in state.log_files
        ]

    def spark_schema(self, state: Optional[LogState] = None) -> T.StructType:
        state = state or self.snapshot()
        return duckdb_schema_to_spark(state.schema.columns())

    def files_for(
        self,
        at_ms: Optional[int] = None,
        partition_filter: Optional[Callable[[str], bool]] = None,
        partition_values: Optional[dict[str, Union[str, tuple, set, list]]] = None,
        column_ranges: Optional[dict[str, tuple]] = None,
        column_equals: Optional[dict] = None,
        column_in: Optional[dict[str, list]] = None,
        state: Optional[LogState] = None,
    ) -> list[FileMarker]:
        """The scan's file list: alive markers at ``at_ms`` after driver-side
        partition pruning and zone-map skipping — pure metadata arithmetic,
        no file I/O. ``read`` consumes this; it is public so external Parquet
        readers can take a pre-pruned list too."""
        state = state or self.snapshot(at_ms)
        files = state.alive_files()
        if partition_filter:
            files = [m for m in files if partition_filter(m.partition())]
        if partition_values:
            files = [
                m
                for m in files
                if _match_partition(parse_partition(m.partition()), partition_values)
            ]
        if column_ranges:
            files = [m for m in files if _stats_overlap(m.stats, column_ranges)]
        if column_equals:
            for col, v in column_equals.items():
                if v is None:
                    raise ValueError(
                        f"column_equals[{col!r}] is None — SQL equality never "
                        f"matches NULL; filter nulls on the DataFrame instead"
                    )
            # equality prunes on BOTH structures: the zone map (v within
            # [min, max]) and the Bloom filter (bit test on distinct values)
            eq_ranges = {c: (v, v) for c, v in column_equals.items()}
            files = [
                m
                for m in files
                if _stats_overlap(m.stats, eq_ranges)
                and all(
                    _bloom_may_contain(m.stats, c, v)
                    for c, v in column_equals.items()
                )
            ]
        if column_in:
            # membership: a file survives a column's IN-list when ANY
            # listed value may be present (zone map AND Bloom agree it
            # might); it must survive EVERY listed column
            for col, vals in column_in.items():
                if not vals or any(v is None for v in vals):
                    raise ValueError(
                        f"column_in[{col!r}] must be a non-empty list of "
                        "non-null literals — SQL IN never matches NULL"
                    )
            files = [
                m
                for m in files
                if all(
                    any(
                        _stats_overlap(m.stats, {col: (v, v)})
                        and _bloom_may_contain(m.stats, col, v)
                        for v in vals
                    )
                    for col, vals in column_in.items()
                )
            ]
        return files

    def read(
        self,
        at_ms: Optional[int] = None,
        partition_filter: Optional[Callable[[str], bool]] = None,
        partition_values: Optional[dict[str, Union[str, tuple, set, list]]] = None,
        column_ranges: Optional[dict[str, tuple]] = None,
        column_equals: Optional[dict] = None,
        column_in: Optional[dict[str, list]] = None,
        tag: Optional[str] = None,
        columns: Optional[list[str]] = None,
        state: Optional[LogState] = None,
    ) -> DataFrame:
        """Snapshot scan: alive files at ``at_ms`` (or at a named ``tag``),
        driver-side partition pruning + zone-map skipping, explicit unified
        schema → Catalyst does the rest.

        ``columns`` projects the scan to just those columns — on the JVM
        parquet path Catalyst prunes anyway, but on the pyarrow fallback
        path (``s3://`` roots without hadoop-aws jars) the ``mapInArrow``
        boundary blocks Catalyst's column pruning, so this is the ONLY
        way a two-column aggregate over a wide table avoids reading every
        column's byte ranges (the reference delegates this pruning to its
        engine — /root/reference/README.md:410-413). Unknown names raise.

        ``partition_values`` prunes on parsed ``k=v`` path fields: exact value,
        ``set``/``list`` membership, or ``(lo, hi)`` inclusive string range.
        Like every pruning knob here it is a HINT, not a row filter: after
        partition-spec evolution, files written under an older spec whose
        path lacks the requested field are KEPT (their rows may or may not
        match — the path cannot prove absence), so the scan can return rows
        outside the requested partitions. Re-apply the predicate on the
        returned DataFrame (``df.where(...)``) when exact filtering is
        needed; on a single-spec table the pruning is exact.
        ``partition_filter`` is an arbitrary predicate on the partition string.
        ``column_ranges`` maps data columns to ``(lo, hi)`` bounds (either
        side None = open) and skips files whose zone map proves no row
        satisfies ``col BETWEEN lo AND hi``. It is an OPTIMIZATION HINT, not
        a row filter: kept files are returned whole, so apply the actual
        predicate on the DataFrame as usual (NULLs fail BETWEEN, so skipping
        on non-null min/max is sound). Bounds compare against the stored
        stat values — numbers for numeric columns, ISO strings for
        timestamp/date columns; files written without stats for a column are
        always kept.

        ``column_equals`` maps (int/string) data columns to a literal value
        and skips files via the per-file Bloom filter (``bloom_columns``)
        AND the zone map — the point-lookup complement to ``column_ranges``
        for unclustered columns whose min/max spans are too wide to prune.
        Same hint-not-filter contract: apply the real ``col = v`` predicate
        on the returned DataFrame.

        ``column_in`` is the IN-list sibling of ``column_equals``: a file
        survives when ANY listed value may be present (zone map and Bloom
        agree it might) for EVERY listed column. Same hint contract.

        ``state`` (advanced) plans from a pre-folded log state instead
        of folding again — ``sql()``/``catalog.sql`` use it so the
        projection derivation and the scan share ONE fold; it must
        correspond to ``at_ms`` (merge-on-read delete-set scoping still
        reads ``at_ms``).
        """
        if tag is not None and at_ms is None:
            at_ms = self.tag_ts(tag)
            tag = None
        if state is None:
            state = self.snapshot(at_ms, tag=tag)
        files = self.files_for(
            partition_filter=partition_filter,
            partition_values=partition_values,
            column_ranges=column_ranges,
            column_equals=column_equals,
            column_in=column_in,
            state=state,
        )
        schema = self.spark_schema(state)
        if columns is not None:
            if not columns:
                raise ValueError(
                    "columns=[] would scan zero columns (rows would be "
                    "lost at the Arrow boundary); pass None for full "
                    "width or name at least one column"
                )
            known = {f.name for f in schema.fields}
            missing = [c for c in columns if c not in known]
            if missing:
                raise ValueError(
                    f"columns not in table schema: {missing} "
                    f"(have {sorted(known)})"
                )
            projected = T.StructType(
                [f for f in schema.fields if f.name in set(columns)]
            )
        else:
            projected = schema
        if not files:
            return self.spark.createDataFrame([], projected)
        sets = self._mor_sets(at_ms)
        if sets:
            # delete-set predicates reference arbitrary columns: scan
            # full width, apply them, THEN project
            df = self._mor_read(files, schema, sets)
            return df.select(*projected.names) if columns is not None else df
        paths = [self.storage.absolute(m.path) for m in files]
        return self._scan_paths(
            paths, projected, sizes=[m.file_bytes for m in files]
        )

    def _scan_paths(
        self,
        abs_paths: list[str],
        schema,
        file_col: Optional[str] = None,
        sizes: Optional[list[int]] = None,
    ) -> DataFrame:
        """One explicit-file-list scan: Spark's native parquet reader when
        the JVM has a filesystem for the scheme, else pyarrow on the
        Python workers (``mapInArrow`` over the file list; files larger
        than ``spark.sql.files.maxPartitionBytes`` fan out as row-group
        shards when ``sizes`` is supplied, else one file per task) — the
        same executor read path the DataSource uses. This is
        what makes ``IceTable.read()`` (and every rewrite/DML scan) work
        against ``s3://`` roots on a pyspark build without hadoop-aws
        jars: planning stays log-metadata-only on the driver, and the
        workers read the objects with pyarrow's native client (reference
        S3-native contract: /root/reference/icedb/icedb.py:151-160).

        ``file_col`` adds a column holding each row's source file path
        in the SCHEME-STRIPPED form ``_strip_scheme`` produces, so rows
        match back to their FileMarker identically on both paths
        (``input_file_name()`` on the JVM path; attached per-file on the
        arrow path, where ``input_file_name()`` would return '')."""
        if not abs_paths:
            out_schema = schema
            if file_col:
                out_schema = T.StructType(
                    schema.fields + [T.StructField(file_col, T.StringType())]
                )
            return self.spark.createDataFrame([], out_schema)
        scheme = abs_paths[0].split("://", 1)[0] if "://" in abs_paths[0] else ""
        if not scheme or self._jvm_reads_scheme(scheme):
            df = self.spark.read.schema(schema).parquet(*abs_paths)
            if file_col:
                df = df.withColumn(file_col, _src_file_col())
            return df
        from .datasource import _file_shards, _read_conformed

        fs_opts = self.storage_options
        sc = self.spark.sparkContext
        split_bytes = _parse_bytes_conf(
            self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
        )
        by_size = sizes if sizes is not None else [None] * len(abs_paths)
        tasks = [
            (p, -1 if shard is None else shard[0],
             -1 if shard is None else shard[1])
            for p, fb in zip(abs_paths, by_size)
            for shard in _file_shards(fb, split_bytes)
        ]
        n = min(len(tasks), sc.defaultParallelism * 4)
        paths_df = self.spark.createDataFrame(
            tasks, "path string, shard_i int, shard_n int"
        ).repartition(n)
        out_schema = schema
        if file_col:
            out_schema = T.StructType(
                schema.fields + [T.StructField(file_col, T.StringType())]
            )

        def _gen(batches):
            import pyarrow as _pa

            for b in batches:
                for p, si, sn in zip(
                    b.column("path").to_pylist(),
                    b.column("shard_i").to_pylist(),
                    b.column("shard_n").to_pylist(),
                ):
                    norm = _strip_scheme(p)
                    shard = None if sn < 0 else (si, sn)
                    for rb in _read_conformed(
                        p, schema, shard=shard, storage_options=fs_opts
                    ):
                        if file_col:
                            rb = _pa.RecordBatch.from_arrays(
                                rb.columns
                                + [_pa.array([norm] * rb.num_rows)],
                                names=list(rb.schema.names) + [file_col],
                            )
                        yield rb

        return paths_df.mapInArrow(_gen, out_schema)

    _SCHEME_READABLE: dict[str, bool] = {}

    def _jvm_reads_scheme(self, scheme: str) -> bool:
        """Can Spark's JVM open this filesystem scheme? Probed once per
        scheme per process (hadoop-aws and friends are deploy-time jars;
        their absence is stable for the JVM's lifetime)."""
        cached = IceTable._SCHEME_READABLE.get(scheme)
        if cached is not None:
            return cached
        try:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            uri = jvm.java.net.URI(f"{scheme}://probe/")
            jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
            ok = True
        except Exception:
            ok = False
        IceTable._SCHEME_READABLE[scheme] = ok
        return ok

    # date_format over a monotonic expression of ONE column, with a
    # fixed-width big-endian format — the transforms a range predicate can
    # be pushed through (f monotonic non-decreasing => path-string range)
    _DATE_FMT_RE = re.compile(
        r"^date_format\s*\(\s*(.+?)\s*,\s*"
        r"'(yyyy(?:-MM(?:-dd(?:-HH)?)?)?)'\s*\)$",
        re.I | re.S,
    )
    _MONO_FUNCS = {
        "timestamp_millis", "timestamp_micros", "timestamp_seconds",
        "to_timestamp", "to_date", "from_unixtime", "cast", "div", "as",
        "timestamp", "date", "bigint", "int", "long", "double", "string",
    }

    def _transform_partition_cols(self) -> dict:
        """data column → ``(field_name, eval_fn)`` for partition fields
        whose expression is a monotonic date transform of exactly one
        column (see :func:`icedb_spark.pruning.derive_scan_hints`).
        ``eval_fn`` evaluates the field expression at a literal via a
        one-row driver-side Spark SQL — O(1), no data touched."""
        spec = self.partition_spec
        if spec is None or spec.fields is None:
            return {}
        out: dict = {}
        for f in spec.fields:
            m = self._DATE_FMT_RE.match(f.expr.strip())
            if not m:
                continue
            inner = m.group(1)
            # monotonicity whitelist: no '-' (5 - ts flips order), only
            # known monotonic wrappers, exactly one source column
            if "-" in inner:
                continue
            idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", inner))
            cols = {i for i in idents if i.lower() not in self._MONO_FUNCS}
            if len(cols) != 1:
                continue
            col = cols.pop()

            def _mk(expr: str, column: str):
                def _eval(lit):
                    if isinstance(lit, str):
                        rendered = "'" + lit.replace("'", "''") + "'"
                    elif isinstance(lit, (int, float)):
                        rendered = repr(lit)
                    else:
                        return None
                    sub = re.sub(
                        rf"\b{re.escape(column)}\b", f"({rendered})", expr
                    )
                    try:
                        row = self.spark.sql(f"select {sub} as v").collect()
                        v = row[0][0]
                        return str(v) if v is not None else None
                    except Exception:
                        return None

                return _eval

            out[col] = (f.name, _mk(f.expr.strip(), col))
        return out

    def _identity_partition_cols(self) -> dict[str, str]:
        """data column → partition field name, for fields whose expression
        is the bare column (the only transform a literal predicate can be
        pushed through without evaluating it)."""
        spec = self.partition_spec
        if spec is None or spec.fields is None:
            return {}
        out = {}
        for f in spec.fields:
            expr = f.expr.strip()
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr):
                out[expr] = f.name
        return out

    def sql(
        self,
        query: str,
        view: str = "ice",
        auto_prune: bool = True,
        **read_kwargs,
    ) -> DataFrame:
        """Run Spark SQL with the snapshot registered as a temp view.

        With ``auto_prune`` (default), simple conjunctive predicates in the
        query's WHERE clause are parsed into the same pruning hints
        ``read`` takes explicitly — identity-partition equality/IN/string
        ranges → partition pruning, literal ranges → zone-map skipping,
        literal equality → Bloom skipping — so a query like
        ``WHERE d = '2024-01-02' AND v BETWEEN 10 AND 20`` opens only the
        files that can match, with no hint kwargs (reference analog: v2's
        range-pruned ``get_files`` macro,
        /root/reference/examples/segment-webhook-sink.py:84-90). The
        derivation is conservative (see :mod:`icedb_spark.pruning`):
        anything it cannot prove prunes nothing, and Catalyst still applies
        the full predicate to every kept file's rows. Passing any explicit
        hint kwarg disables the auto-derivation.

        ``auto_prune`` also PROJECTS the registered view to the columns
        the query text can reference (:meth:`_query_columns` — matters on
        the pyarrow fallback path, where Catalyst cannot column-prune
        past the scan boundary). The temp view is re-registered on every
        call, scoped to this query's needs: reuse the view name outside
        ``sql()`` only for the same query shape, or register your own
        via ``read().createOrReplaceTempView``.

        DML and maintenance statements route to the engine's own
        operators (the Delta-SQL surface): ``DELETE FROM <view> WHERE
        ...`` → :meth:`delete`, ``UPDATE <view> SET c = expr[, ...] WHERE
        ...`` → :meth:`update`, ``OPTIMIZE <view>`` → :meth:`optimize`,
        ``VACUUM <view> [RETAIN n HOURS]`` (7-day default retention) →
        :meth:`tombstone_cleanup`. Each returns a 1-row summary
        DataFrame. Anything else is plain Spark SQL over the snapshot
        view.
        """
        dml = self._route_sql_dml(query, view)
        if dml is not None:
            return dml
        if auto_prune and not any(
            k in read_kwargs
            for k in (
                "partition_values", "column_ranges", "column_equals",
                "column_in",
            )
        ):
            read_kwargs.update(
                derive_scan_hints(
                    query,
                    view,
                    self._identity_partition_cols(),
                    self._transform_partition_cols(),
                )
            )
        if auto_prune and not any(
            k in read_kwargs for k in ("columns", "tag", "state")
        ):
            # ONE fold shared by the projection derivation and the scan
            state = self.snapshot(read_kwargs.get("at_ms"))
            cols = self._query_columns(query, self.spark_schema(state))
            if cols is not None:
                read_kwargs["columns"] = cols
            read_kwargs["state"] = state
        self.read(**read_kwargs).createOrReplaceTempView(view)
        return self.spark.sql(query)

    def _query_columns(
        self, query: str, schema: Optional[T.StructType] = None
    ) -> Optional[list[str]]:
        """The table columns a SQL query can reference, or None for full
        width. Same conservative identifier-token contract as
        :meth:`_predicate_schema` (an expression cannot reference a
        column without spelling its name), with SELECT-shaped escape
        hatches that keep full width: any ``*`` other than
        ``count(*)``/``count(1)``, a backtick-quoted identifier, or a
        NATURAL join (the two ways a query touches columns namelessly).
        A reference this scan somehow missed fails the query at ANALYSIS
        ("column not found") — never a silent wrong answer. The win is
        on the pyarrow fallback path, where the ``mapInArrow`` boundary
        blocks Catalyst's column pruning: ``sql("select sum(v) from ice
        where d = 'x'")`` over a wide s3 table reads two columns, not
        forty."""
        q = query or ""
        if "`" in q or re.search(r"\bnatural\b", q, re.I):
            return None
        starless = re.sub(
            r"count\s*\(\s*(?:\*|1)\s*\)", "count_rows", q, flags=re.I
        )
        if "*" in starless:
            return None
        if schema is None:
            schema = self.spark_schema()
        idents = {t.lower() for t in self._IDENT_RE.findall(q)}
        cols = [f.name for f in schema.fields if f.name.lower() in idents]
        if len(cols) == len(schema.fields):
            return None  # full width anyway
        if not cols:  # counting still needs one column to count
            cols = [schema.fields[0].name] if schema.fields else []
        return cols or None

    def _route_sql_dml(
        self, query: str, view: str, dry_run: bool = False
    ) -> Optional[DataFrame]:
        """Recognize ``DELETE FROM <view> [WHERE ...]`` and ``UPDATE
        <view> SET a = e[, ...] [WHERE ...]`` and run them through the
        engine's transactional operators. Conservative by design: only
        these two statement shapes over THIS table's view name match;
        anything else returns None and runs as a plain SELECT. The
        assignments/predicate substrings pass through verbatim, so every
        Spark SQL expression the operators accept works here too.
        ``dry_run=True`` answers "WOULD this statement route to this
        table?" (truthy/None) without executing anything — the catalog
        uses it to reject DML only when a table actually matches."""
        q = query.strip().rstrip(";").strip()
        m = re.fullmatch(
            rf"delete\s+from\s+{re.escape(view)}(?:\s+where\s+(.*))?",
            q,
            re.I | re.S,
        )
        if m:
            if dry_run:
                return True
            summary = self.delete(m.group(1) or "true")
            return self.spark.createDataFrame(
                [
                    {
                        "operation": "delete",
                        "rows_deleted": int(summary.get("rows_deleted", 0)),
                        "files_rewritten": int(
                            summary.get("files_rewritten", 0)
                        ),
                    }
                ]
            )
        m = re.fullmatch(
            rf"optimize\s+{re.escape(view)}",
            q,
            re.I,
        )
        if m:
            if dry_run:
                return True
            n = self.optimize(max_file_size=10_000_000, max_file_count=10)
            return self.spark.createDataFrame(
                [{"operation": "optimize", "merges": int(n)}]
            )
        m = re.fullmatch(
            rf"vacuum\s+{re.escape(view)}"
            rf"(?:\s+retain\s+(\d+)\s+hours?)?",
            q,
            re.I,
        )
        if m:
            if dry_run:
                return True
            hours = int(m.group(1)) if m.group(1) else 168  # 7-day default
            logs, data = self.tombstone_cleanup(
                min_age_ms=hours * 3_600_000
            )
            return self.spark.createDataFrame(
                [
                    {
                        "operation": "vacuum",
                        "retain_hours": hours,
                        "log_files_deleted": len(logs),
                        "data_files_deleted": len(data),
                    }
                ]
            )
        m = re.fullmatch(
            rf"update\s+{re.escape(view)}\s+set\s+(.*?)(?:\s+where\s+(.*))?",
            q,
            re.I | re.S,
        )
        if m:
            if dry_run:
                return True
            assigns: dict[str, str] = {}
            for part in _split_top_level_commas(m.group(1)):
                col, _, expr = part.partition("=")
                if not col.strip() or not expr.strip():
                    raise ValueError(f"malformed SET clause: {part!r}")
                assigns[col.strip()] = expr.strip()
            summary = self.update(assigns, m.group(2) or "true")
            return self.spark.createDataFrame(
                [
                    {
                        "operation": "update",
                        "rows_updated": int(summary.get("rows_updated", 0)),
                        "files_rewritten": int(
                            summary.get("files_rewritten", 0)
                        ),
                    }
                ]
            )
        return None

    # --------------------------------------------------- metadata tables
    def history_df(self, at_ms: Optional[int] = None) -> DataFrame:
        """Commit history as a DataFrame (the Iceberg ``snapshots``
        metadata-table analog; :meth:`history` returns the same story as
        plain dicts): one row per log commit with its instant, kind,
        file/byte deltas, and the raw log key.

        Metadata-scale only: the fold's already-fetched log contents are
        reused (``keep_parsed``), rows are O(commits), and no data file
        is opened. ``operation`` is derived: ``insert`` (plain append),
        ``merge`` (merged-type with tombstones restating prior files),
        or ``overwrite`` for merged commits that both add and tombstone
        at their own instant (DML / rewrite / compaction share this
        shape on the wire — the log records effects, not intents)."""
        state = self.snapshot(at_ms=at_ms, keep_parsed=True)
        rows = []
        for key, (_meta, _sch, fms, _tmbs) in self._log_contents(state):
            ts, merged = get_log_file_info(key)
            added = [m for m in fms if m.created_ms == ts]
            tombed = [m for m in fms if m.tombstone == ts]
            op = "insert" if not merged else (
                "overwrite" if added and tombed else "merge"
            )
            rows.append({
                "commit_ms": ts,
                "operation": op,
                "files_added": len(added),
                "files_tombstoned": len(tombed),
                "bytes_added": sum(m.file_bytes for m in added),
                "log_key": key,
            })
        schema = T.StructType([
            T.StructField("commit_ms", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("files_added", T.LongType()),
            T.StructField("files_tombstoned", T.LongType()),
            T.StructField("bytes_added", T.LongType()),
            T.StructField("log_key", T.StringType()),
        ])
        return self.spark.createDataFrame(rows, schema=schema).orderBy(
            "commit_ms", "log_key"
        )

    def file_manifest(self, at_ms: Optional[int] = None) -> DataFrame:
        """Alive files as a DataFrame (the Iceberg ``files`` metadata
        table): path, partition, size, commit instant, and the zone-map
        stats JSON — the scan-planning metadata, queryable with SQL."""
        state = self.snapshot(at_ms=at_ms)
        rows = [
            {
                "path": m.path,
                "partition": m.partition(),
                "file_bytes": m.file_bytes,
                "created_ms": m.created_ms,
                "stats_json": json.dumps(m.stats) if m.stats else None,
            }
            for m in state.alive_files()
        ]
        schema = T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("partition", T.StringType()),
            T.StructField("file_bytes", T.LongType()),
            T.StructField("created_ms", T.LongType()),
            T.StructField("stats_json", T.StringType()),
        ])
        return self.spark.createDataFrame(rows, schema=schema).orderBy("path")

    def _txn_guard(self, op: str) -> None:
        """Refuse exclusive maintenance/rewrite while an uncommitted
        transaction involves this table. A compaction or vacuum running
        inside a transaction's publish window folds the
        visibility-FILTERED snapshot — it cannot see the transaction's
        tombstones, so it would restate those files alive in a collapsed
        log stamped LATER than the transaction's pinned instant; once
        the commit marker lands, last-writer-wins would silently undo
        the transaction's deletes (resurrection) or duplicate its
        rewrites. The ``_mor_guard`` analog for pending transactions.

        Two signals: pending intent manifests naming this table (covers
        the window before the first tagged log append), and
        txn-tagged-but-invisible log commits on this table. A
        transaction's OWN queued DML is exempt (``txn_override`` set —
        it reads at the pinned instant, which is safe by construction),
        as are its self-visible commits."""
        vis = self.commit_visibility
        if vis is None or not hasattr(vis, "pending_intents"):
            return
        if getattr(self._lock_local, "txn_override", None) is not None:
            return
        from .txn import intent_involves, parse_txn_id as _parse_txn_id

        vis.refresh()
        own = vis._own() if hasattr(vis, "_own") else set()
        blocking = {
            doc.get("txn")
            for doc in vis.pending_intents()
            if doc.get("txn") not in own
            and intent_involves(doc, self.path)
        }
        for key, _sz in self.log_io.get_current_log_files(self.log_storage):
            tid = _parse_txn_id(key)
            if tid is not None and not vis.is_visible(key):
                blocking.add(tid)
        blocking.discard(None)
        if blocking:
            raise RuntimeError(
                f"{op}(): transaction(s) {sorted(blocking)} are pending "
                "on this table; rewriting now could fold over their "
                "invisible commits (resurrecting deleted rows or "
                "duplicating rewrites). Retry after they commit, or "
                "reclaim crashed ones with txn_cleanup()."
            )

    def _refuse_pending_txn_window(
        self, op: str, since_ms: int, until_ms: Optional[int]
    ) -> None:
        """Incremental readers must not advance their watermark past a
        PENDING transaction: its commits carry an instant pinned before
        the commit marker lands, so skipping them now means dropping
        them from every future window (exactly-once broken silently).
        Raise and let the consumer retry — the batch analog of the
        streaming source's safe-watermark clamp under ``txn_root``.

        Two signals, both required: the transaction's already-appended
        tagged log files, AND its pending INTENT manifest — between the
        intent PUT and the first tagged log append (DML runs Spark jobs:
        seconds to minutes) the log listing shows nothing, but every
        commit the transaction will write is stamped at an instant
        pinned AFTER the intent's ``ts``, so an intent with
        ``ts <= until`` means commits may still land inside the window."""
        vis = self.commit_visibility
        if vis is None or not hasattr(vis, "pending"):
            return
        from .txn import intent_involves, parse_txn_id as _parse_txn_id

        vis.refresh()
        until = until_ms if until_ms is not None else now_ms()
        intents = (
            vis.pending_intents() if hasattr(vis, "pending_intents") else []
        )
        blocking = {
            doc.get("txn")
            for doc in intents
            if intent_involves(doc, self.path)
            and doc.get("ts", 0) <= until
        }
        pend = {doc.get("txn") for doc in intents} | vis.pending()
        blocking |= {
            tid
            for key, _sz in self.log_io.get_current_log_files(
                self.log_storage
            )
            for tid in [_parse_txn_id(key)]
            if tid in pend and since_ms < get_log_file_info(key)[0] <= until
        }
        blocking.discard(None)
        if blocking:
            raise RuntimeError(
                f"{op}(): pending transaction(s) {sorted(blocking)} have "
                "(or may still write) commits inside the window; retry "
                "after they commit or are cleaned"
            )

    def safe_watermark(self) -> int:
        """The highest ``until_ms`` an incremental consumer can use RIGHT
        NOW without risking a pending transaction's commits: one below
        the earliest not-yet-visible txn commit, else the current
        instant. The cooperative twin of the pending-window guard —
        ``t.changes(t0, t.safe_watermark())`` never raises and never
        skips; on tables without transaction visibility it is simply
        ``now``."""
        vis = self.commit_visibility
        now = now_ms()
        if vis is None or not hasattr(vis, "refresh"):
            return now
        from .txn import intent_clamp_ms, parse_txn_id as _parse_txn_id

        vis.refresh()
        floor = now
        # pending INTENTS clamp first: between a transaction's intent PUT
        # and its first tagged log append, the log listing below shows
        # nothing — but the intent ts lower-bounds every commit it will
        # write, so it is the only safe signal during that window
        clamp = intent_clamp_ms(vis, self.path)
        if clamp is not None:
            floor = min(floor, clamp)
        for key, _sz in self.log_io.get_current_log_files(self.log_storage):
            if _parse_txn_id(key) is not None and not vis.is_visible(key):
                floor = min(floor, get_log_file_info(key)[0] - 1)
        return floor

    def changes(
        self, since_ms: int, until_ms: Optional[int] = None
    ) -> DataFrame:
        """Incremental (CDC-style) read: the rows INSERTED in
        ``(since_ms, until_ms]`` — the append stream a downstream consumer
        tails without re-reading the table.

        Log-based, O(window metadata): the changed rows are exactly the
        file markers introduced by non-merged (insert) commits inside the
        window. Merge/rewrite commits are excluded — they rewrite EXISTING
        rows into new files, so including them would re-emit old data; and
        because data files are immutable, an insert-era file still serves
        its rows even after a later merge tombstones it (vacuum's
        ``min_age_ms`` grace is what bounds how far back a consumer may
        lag, same contract as time travel). Every inserted row appears in
        exactly one ``(since, until]`` window, so consecutive windows
        compose into the full append stream.

        Rows are returned under the CURRENT unified schema (columns added
        later read as NULL for older windows). Typical loop::

            t0 = 0
            while True:
                head = table.snapshot().max_timestamp()   # or now_ms()
                batch = table.changes(t0, head)
                ...process batch...
                t0 = head

        On a transaction-enabled table (``commit_visibility`` set) this
        raises while a PENDING transaction's commits sit inside the
        window: a txn's commits carry an instant pinned BEFORE its
        marker lands, so advancing the watermark past that instant
        before the marker appears would drop the transaction's rows
        from every future window. Use ``until_ms=t.safe_watermark()``
        to never hit the guard (the window bounds itself below any
        pending transaction), or retry after the transaction commits /
        is reclaimed by ``txn_cleanup`` — exactly-once is preserved by
        refusing to skip, the batch analog of the streaming source's
        safe-watermark clamp under ``txn_root``.
        """
        self._refuse_pending_txn_window("changes", since_ms, until_ms)
        state = self.snapshot(until_ms, keep_parsed=True)
        new_paths: list[str] = []
        for key, (_meta, _sch, fms, _tmbs) in self._log_contents(state):
            ts, merged = get_log_file_info(key)
            if merged or ts <= since_ms:
                continue
            # an insert commit's markers are exactly the files it created
            # (alive-filter is belt-and-suspenders: every maintenance op
            # that tombstones writes merged logs, skipped above)
            new_paths.extend(m.path for m in fms if m.alive)
        schema = self.spark_schema(state)
        if not new_paths:
            return self.spark.createDataFrame([], schema)
        paths = [self.storage.absolute(p) for p in sorted(set(new_paths))]
        return self._scan_paths(paths, schema)

    def changes_feed(
        self, since_ms: int, until_ms: Optional[int] = None
    ) -> DataFrame:
        """Row-level change feed over ``(since_ms, until_ms]`` — the CDC
        stream INCLUDING mutations (beyond :meth:`changes`, which is
        insert-only): insert commits stream their rows tagged
        ``_change_type='insert'`` from pure log metadata, and DML commits
        made with ``capture_changes=True`` stream their recorded
        ``delete`` / ``update_preimage`` / ``update_postimage`` /
        ``insert`` rows from the ``_changes/<commit_ts>/`` set written
        atomically-before their commit.

        Exposure rule: a change set appears ONLY when its timestamp names
        a committed log file, so a writer that crashed between change
        write and commit contributes nothing (``gc_orphans`` collects the
        leftovers). DML run WITHOUT capture contributes nothing — enable
        capture wherever a downstream consumer tails this feed. Retention
        matches time travel: once vacuum collapses a commit's log past the
        grace window, its change set goes orphan and is collected.

        Output: current unified schema + ``_change_type`` (older windows
        null-seed later columns, same as every scan).
        """
        self._refuse_pending_txn_window("changes_feed", since_ms, until_ms)
        state = self.snapshot(until_ms, keep_parsed=True)
        committed: set[int] = set()
        insert_paths: list[str] = []
        for key, (_meta, _sch, fms, _tmbs) in self._log_contents(state):
            ts, merged = get_log_file_info(key)
            committed.add(ts)
            if not merged and ts > since_ms:
                insert_paths.extend(m.path for m in fms if m.alive)
        schema = self.spark_schema(state)
        feed_schema = self._feed_schema(schema)
        outs: list[DataFrame] = []
        if insert_paths:
            outs.append(
                self._scan_paths(
                    [
                        self.storage.absolute(p)
                        for p in sorted(set(insert_paths))
                    ],
                    schema,
                )
                .withColumn("_change_type", F.lit("insert"))
            )
        change_ts: set[int] = set()
        for key, _size in self.storage.list(self._CHANGES_PREFIX):
            seg = key.split("/")
            if len(seg) < 2:
                continue
            try:
                ts = int(seg[1])
            except ValueError:
                continue
            if (
                ts > since_ms
                and (until_ms is None or ts <= until_ms)
                and ts in committed
            ):
                change_ts.add(ts)
        if change_ts:
            outs.append(
                self._scan_paths(
                    [
                        self.storage.absolute(f"{self._CHANGES_PREFIX}/{t}")
                        for t in sorted(change_ts)
                    ],
                    feed_schema,
                )
            )
        if not outs:
            return self.spark.createDataFrame([], feed_schema)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    # ------------------------------------------------------- observability

    # ----------------------------------------------------------- tags

    _TAGS_PREFIX = "_tags"
    _TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

    def tag(
        self, name: str, at_ms: Optional[int] = None, replace: bool = False
    ) -> int:
        """Pin a snapshot under a NAME (the Iceberg/Delta tag analog):
        ``read(tag=name)`` then time-travels to it without the caller
        bookkeeping timestamps, and vacuum (``tombstone_cleanup`` with its
        default ``protect_tags=True``) refuses to destroy anything a tagged
        snapshot still needs — the release-pinning workflow (tag the
        exact corpus snapshot a model trained on; reproduce it years
        later regardless of maintenance cadence).

        ``at_ms`` defaults to the current committed head. Tags are
        immutable unless ``replace=True``. Metadata-only: one small object
        under ``_tags/`` in the log store. Returns the pinned timestamp.
        """
        if not self._TAG_NAME_RE.match(name):
            raise ValueError(f"invalid tag name {name!r}")
        if at_ms is None:
            state = self.snapshot()
            if not state.log_files:
                raise ValueError("cannot tag an empty table; pass at_ms")
            # pin the current INSTANT, not the last commit: log-less
            # metadata (merge-on-read delete sets) stamped between the
            # last commit and now must be inside the pinned snapshot
            at_ms = unique_ms()
        key = f"{self._TAGS_PREFIX}/{name}"
        if not replace and self.log_storage.exists(key):
            raise ValueError(
                f"tag {name!r} exists (use replace=True to move it)"
            )
        self.log_storage.put(key, str(int(at_ms)).encode())
        return int(at_ms)

    def tag_ts(self, name: str) -> int:
        """Resolve a tag to its pinned timestamp; KeyError if absent (any
        other storage error propagates)."""
        try:
            raw = self.log_storage.get(f"{self._TAGS_PREFIX}/{name}")
        except FileNotFoundError:
            raise KeyError(f"no such tag: {name!r}") from None
        return int(raw.decode())

    def tags(self) -> dict[str, int]:
        """All tags, name → pinned timestamp."""
        out = {}
        plen = len(self._TAGS_PREFIX) + 1
        for key, _size in self.log_storage.list(self._TAGS_PREFIX):
            try:
                raw = self.log_storage.get(key)
            except FileNotFoundError:
                continue  # dropped by delete_tag between list and GET
            out[key[plen:]] = int(raw.decode())
        return out

    def delete_tag(self, name: str) -> None:
        """Drop a tag; the snapshot it pinned becomes vacuum-collectible."""
        self.log_storage.delete(f"{self._TAGS_PREFIX}/{name}")

    def history(self) -> list[dict]:
        """Commit history, newest first: one entry per log file with its
        timestamp, kind, and the file/tombstone counts it introduced. Pure
        metadata (one snapshot fold), the DESCRIBE-HISTORY analog readers
        use to pick time-travel points."""
        state = self.snapshot(keep_parsed=True)
        out = []
        for key, (_meta, _sch, fms, tmbs) in self._log_contents(state):
            ts, merged = get_log_file_info(key)
            out.append(
                {
                    "log_file": key,
                    "timestamp_ms": ts,
                    "kind": "merge" if merged else "insert",
                    "n_file_markers": len(fms),
                    "n_alive_markers": sum(1 for m in fms if m.alive),
                    "n_log_tombstones": len(tmbs),
                    "schema_columns": len(_sch.columns()),
                }
            )
        out.sort(key=lambda d: d["log_file"], reverse=True)
        return out

    def stats(self, at_ms: Optional[int] = None) -> dict:
        """Table-level summary from pure metadata: alive/total file counts,
        bytes, row-partition spread — no data I/O, O(markers)."""
        state = self.snapshot(at_ms)
        alive = state.alive_files()
        parts = {m.partition() for m in alive}
        return {
            "alive_files": len(alive),
            "tombstoned_files": len(state.file_markers) - len(alive),
            "alive_bytes": sum(m.file_bytes for m in alive),
            "partitions": len(parts),
            "log_files": len(state.log_files),
            "columns": len(state.schema.columns()),
        }

    def alive_files_in_range(
        self, field: str, start: str, end: str, at_ms: Optional[int] = None
    ) -> list[str]:
        """Alive data-file paths whose partition value for ``field`` lies in
        [start, end] — the v2 ``get_files(start_part, end_part)`` metadata
        lookup (/root/reference/ch/user_scripts/main.go:48-59), used to hand
        a pre-pruned file list to any external Parquet reader."""
        state = self.snapshot(at_ms)
        out = []
        for m in state.alive_files():
            v = parse_partition(m.partition()).get(field)
            if v is not None and start <= v <= end:
                out.append(self.storage.absolute(m.path))
        return sorted(out)

    # ------------------------------------------------------------------ merge

    @_maintenance_op
    def merge(
        self,
        max_file_size: int = 10_000_000,
        max_file_count: int = 10,
        asc: bool = False,
    ):
        """Compact ONE partition per call (callers loop until None) —
        reference ``merge`` (/root/reference/icedb/icedb.py:223-325).

        Partition selection: order live partitions by file count (desc =
        hot-first default, asc = full-optimization), pick the first with ≥2
        candidate files, greedily accumulate smallest-first until the byte or
        count budget. The rewrite is one small Spark job over only the
        selected files; the commit is one merged (``_m``) log append carrying
        the new marker, tombstoned old markers, untouched carried-forward
        markers and log tombstones for the superseded log files.

        Requires an external exclusive lock for multi-writer safety (same
        contract as the reference, ARCHITECTURE.md:158-165).
        """
        state = self.snapshot(keep_parsed=True)
        by_part: dict[str, list[FileMarker]] = {}
        for m in state.alive_files():
            by_part.setdefault(m.partition(), []).append(m)
        parts = sorted(
            by_part.keys(), key=lambda p: len(by_part[p]), reverse=not asc
        )
        for part in parts:
            acc = _plan_merge(by_part[part], max_file_size, max_file_count)
            if acc is None:
                continue
            return self._merge_files(state, part, acc)
        return None

    @_maintenance_op
    def optimize(self, full: bool = True, concurrency: int = 0, **merge_kwargs) -> int:
        """Merge-to-exhaustion convenience. ``concurrency=0`` loops ``merge``
        serially — ``full=True`` processes partitions smallest-file-count
        first (the reference's full-optimization policy, README.md:600-616),
        ``full=False`` hot-partition-first. ``concurrency>0`` instead loops
        :meth:`merge_all` passes, compacting every partition per pass with
        that many concurrent rewrite jobs. Returns merges performed."""
        n = 0
        if concurrency > 0:
            while True:
                res = self.merge_all(concurrency=concurrency, **merge_kwargs)
                if res is None:
                    return n
                n += len(res[1])
        while self.merge(asc=full, **merge_kwargs) is not None:
            n += 1
        return n

    @_maintenance_op
    def merge_all(
        self,
        max_file_size: int = 10_000_000,
        max_file_count: int = 10,
        concurrency: int = 8,
    ):
        """One compaction pass over EVERY partition with work: the per-
        partition rewrite jobs run concurrently (Spark schedules jobs from
        multiple driver threads), and the whole pass commits as ONE merged
        log append.

        Why one commit and not one per partition: concurrent merges that
        each append their own log are NOT safe even on disjoint partitions —
        an insert's log file typically spans many partitions, so two merges
        would both carry forward that log's markers, and under the
        last-writer-wins fold the later commit would resurrect the earlier
        merge's tombstoned files. A single append makes the combined pass
        atomic, same as the reference's one-partition merge. (Multi-WRITER
        merge safety still needs the external lock, exactly as the
        reference, ARCHITECTURE.md:158-165 — this parallelizes within one
        maintainer process.)

        Returns ``(new_log, merges)`` with one ``(partition, new_marker,
        merged_markers)`` per compacted partition, or None if no work.
        """
        state = self.snapshot(keep_parsed=True)
        by_part: dict[str, list[FileMarker]] = {}
        for m in state.alive_files():
            by_part.setdefault(m.partition(), []).append(m)
        plans: list[tuple[str, list[FileMarker]]] = []
        for part, markers in by_part.items():
            acc = _plan_merge(markers, max_file_size, max_file_count)
            if acc is not None:
                plans.append((part, acc))
        if not plans:
            return None

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
            rewritten = list(
                ex.map(
                    lambda pa: (pa[0], pa[1], *self._rewrite_for_merge(state, *pa)),
                    plans,
                )
            )
        new_log, markers = self._commit_merge(state, rewritten)
        merges = [
            (part, markers[i], acc)
            for i, (part, acc, _path, _bytes, _cols, _st) in enumerate(rewritten)
        ]
        return new_log, merges

    def _merge_files(self, state: LogState, part: str, acc: list[FileMarker]):
        path, file_bytes, out_cols, stats = self._rewrite_for_merge(
            state, part, acc
        )
        new_log, markers = self._commit_merge(
            state, [(part, acc, path, file_bytes, out_cols, stats)]
        )
        return new_log, markers[0], part, acc

    def _rewrite_for_merge(
        self, state: LogState, part: str, acc: list[FileMarker]
    ) -> tuple[str, int, dict, Optional[dict]]:
        """The write half of a merge: rewrite ``acc`` into one file.
        Thread-safe (temp-view registration is serialized); commit happens
        separately so passes can batch many rewrites into one log append.

        A PLAIN merge — no custom merge query, no pending delete set to
        fold, no z-order layout, sources within ``_LOCAL_PART_BYTES`` on
        disk — starts no Spark job: the driver reads the sources
        (:meth:`_read_merge_sources`) and writes them with the same group
        writer, as the reference compacts with in-process DuckDB over an
        explicit file list (icedb/icedb.py:271-281). Every other merge,
        and a plain one whose sources decode past
        ``spark.driver.maxResultSize``, is a Spark job."""
        schema = self.spark_schema(state)
        sets = [
            (ts, p)
            for ts, p in self._mor_sets()
            if any(self._mor_applies(m, ts) for m in acc)
        ]
        on_disk = sum(m.file_bytes for m in acc)
        plain = not (sets or self.custom_merge_query or self.zorder_by) and (
            on_disk <= _LOCAL_PART_BYTES
        )
        table = self._read_merge_sources(part, acc, schema) if plain else None
        if table is not None:
            out_cols = spark_schema_to_duckdb(schema)
            written = self._write_groups(None, part=part, table=table)
        else:
            out, out_cols = self._merge_dataframe(schema, part, acc, sets)
            # the input's on-disk bytes are KNOWN from the markers (free); a
            # custom merge query may expand the batch, so it is sized by its
            # plan estimate instead. MOR folds only delete rows (output <=
            # input) and keep the marker bytes. A plain merge here already
            # decoded past the collect's limit, so it skips the collect.
            written = self._write_groups(
                out, part=part,
                nbytes=None if self.custom_merge_query else on_disk,
                collect=not plain,
            )
        if not written:
            # a filtering custom merge query can yield ZERO rows for the
            # partition (TTL-style 'where not expired'), and so can plain
            # sources that are all empty: no group is written, so write
            # the empty-but-schema'd parquet ourselves —
            # the reference's DuckDB COPY does the same — and let the merge
            # commit normally (sources tombstone, partition stays compacted)
            import io

            empty = (
                table.slice(0, 0) if table is not None
                else out.select(list(out_cols.keys())).limit(0).toArrow()
            )
            rel = f"_data/{part}/{uuid.uuid4()}.parquet"
            buf = io.BytesIO()
            pq.write_table(empty, buf, compression=self.compression)
            self.storage.put(rel, buf.getvalue())
            stats0 = (
                {self._MOR_STATS_KEY: max(ts for ts, _p in sets)}
                if sets
                else None
            )
            return rel, len(buf.getvalue()), out_cols, stats0
        stats = written[0].stats
        if sets:
            # record the fold: these rows can never need the applied sets
            # again (vacuum uses this to prove a set obsolete — the new
            # marker inherits its sources' created_ms for age semantics,
            # so created_ms alone cannot)
            stats = dict(stats or {})
            stats[self._MOR_STATS_KEY] = max(ts for ts, _p in sets)
        return written[0].path, written[0].file_bytes, out_cols, stats

    def _read_merge_sources(
        self, part: str, acc: list[FileMarker], schema: T.StructType
    ) -> Optional[pa.Table]:
        """A plain merge's sources as one Arrow table, read on the driver
        with the executors' reader (``_read_conformed``: missing columns
        null-seeded, widened types cast, column order fixed,
        ``storage_options`` honoured). The decoded size is checked file
        by file against ``spark.driver.maxResultSize`` — the limit the
        collect this read replaces would hit — so at most one file is
        decoded past it; past it the read is dropped, a WARNING is
        logged and None is returned (the caller takes the distributed
        writer)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from .datasource import _read_conformed

        limit = _result_size_limit(self.spark)
        batches: list[pa.RecordBatch] = []
        decoded = 0
        for m in acc:
            for rb in _read_conformed(
                self.storage.absolute(m.path), schema,
                storage_options=self.storage_options,
            ):
                batches.append(rb)
                decoded += rb.nbytes
            if limit and decoded > limit:
                _LOG.warning(
                    "driver-local merge of %s partition %r (%d decoded "
                    "bytes) exceeded spark.driver.maxResultSize; using the "
                    "distributed writer", self.path, part, decoded,
                )
                return None
        return pa.Table.from_batches(batches, schema=to_arrow_schema(schema))

    def _merge_dataframe(
        self,
        schema: T.StructType,
        part: str,
        acc: list[FileMarker],
        sets: list[tuple[int, str]],
    ) -> tuple[DataFrame, dict]:
        """A Spark-side merge's output: the sources (with ``sets`` folded
        in) run through the merge query, plus its output columns."""
        spark = self.spark
        if sets:
            # fold pending merge-on-read deletes into the rewrite: the new
            # file's created_ms postdates every set, so the rows must be
            # physically gone from it (this is exactly how the MOR debt is
            # paid down; once no alive file predates a set, vacuum drops it)
            df = self._mor_read(acc, schema, sets)
        else:
            paths = [self.storage.absolute(m.path) for m in acc]
            df = self._scan_paths(
                paths, schema, sizes=[m.file_bytes for m in acc]
            )
        # expose hive partition values as columns for the merge query
        # (reference reads with hive_partitioning=1, icedb/icedb.py:271-281)
        part_values = parse_partition(part)
        added = []
        for k, v in part_values.items():
            if k not in df.columns:
                df = df.withColumn(k, F.lit(v))
                added.append(k)
        q = self.custom_merge_query or "select * from source_files"
        with _VIEW_LOCK:
            df.createOrReplaceTempView("source_files")
            out = spark.sql(q)
        # partition-path helper columns never become table columns
        out = out.drop(*[c for c in added if c in out.columns])
        # a custom merge query may synthesize new columns (e.g. a `_row_id`
        # via uuid, README.md:781 in the reference); they join the schema
        # union exactly like insert-time columns do
        out_cols = spark_schema_to_duckdb(
            T.StructType([f for f in out.schema.fields if f.name != _PART_COL])
        )
        return out, out_cols

    def _commit_merge(
        self, state: LogState, rewritten: list
    ) -> tuple[str, list[FileMarker]]:
        """The bookkeeping half: ONE merged (``_m``) log append covering all
        rewritten partitions — new markers (stamped with the commit
        timestamp, as the reference does), tombstoned old markers, carried
        untouched markers of the superseded logs, and log tombstones."""
        merge_ms = unique_ms()
        # A delete set that landed after a rewrite listed the sets is not
        # folded into it, yet applies to its sources; the new marker,
        # stamped merge_ms, would escape it and resurrect the rows. Refuse
        # before anything is committed: a retry folds the set, and
        # gc_orphans reclaims the files written here.
        for ts, _p in self._mor_sets(at_ms=merge_ms - 1):
            for part, acc, _path, _bytes, _cols, stats in rewritten:
                folded = (stats or {}).get(self._MOR_STATS_KEY) or 0
                if ts > folded and any(self._mor_applies(m, ts) for m in acc):
                    raise RuntimeError(
                        f"merge of {self.path} partition {part!r} raced the "
                        f"merge-on-read delete set stamped {ts}, which its "
                        "rewrite did not fold; nothing was committed — "
                        "retry the merge"
                    )
        new_markers = [
            FileMarker(
                path=path, created_ms=merge_ms, file_bytes=nbytes, stats=stats
            )
            for _part, _acc, path, nbytes, _cols, stats in rewritten
        ]
        merged_paths = {
            m.path
            for _part, acc, _path, _bytes, _cols, _st in rewritten
            for m in acc
        }
        source_logs: list[str] = []
        carried: dict[str, FileMarker] = {}
        log_schema = Schema()
        # Carried markers take their tombstone from the FOLDED state, not the
        # raw source-log line: a file tombstoned by a later non-source log
        # (e.g. a remove_partitions drop) whose insert log also fed this merge
        # must not be re-committed alive — this merged log is newest and wins
        # the LWW fold. (The reference re-commits the raw line,
        # icedb/icedb.py:290-305 — a resurrection hazard we fix here.)
        folded = {m.path: m for m in state.file_markers}
        reads = self._log_contents(state)
        for key, (_meta, sch, fms, _t) in reads:
            if not any(fm.path in merged_paths for fm in fms):
                continue
            source_logs.append(key)
            cols = sch.columns()
            log_schema.accumulate(list(cols.keys()), list(cols.values()))
            for fm in fms:
                fm = folded.get(fm.path, fm)
                if fm.path in merged_paths and fm.alive:
                    fm = FileMarker(
                        fm.path, fm.created_ms, fm.file_bytes, merge_ms, fm.stats
                    )
                carried[fm.path] = fm
        for _part, _acc, _path, _bytes, out_cols, _st in rewritten:
            log_schema.accumulate(list(out_cols.keys()), list(out_cols.values()))
        tombstones = [LogTombstone(k, merge_ms) for k in source_logs]
        files = new_markers + list(carried.values())
        new_log, _meta = self.log_io.append(
            self.log_storage,
            1,
            log_schema,
            files,
            tombstones=tombstones,
            merged=True,
            timestamp_ms=merge_ms,
            fence=self._fence(),
        )
        return new_log, new_markers

    # ---------------------------------------------------------------- cleanup

    @_maintenance_op
    def rollback(self, at_ms: int) -> dict:
        """Restore the table to its snapshot at ``at_ms`` with ONE atomic,
        metadata-only commit (beyond reference — the MVCC log makes this
        free): files alive at ``at_ms`` but since tombstoned are re-added
        as fresh markers pointing at the same immutable data files, and
        files created after ``at_ms`` are tombstoned. No data I/O at any
        table size. The rollback is itself a commit, so time travel to the
        pre-rollback state still works, and a bad rollback can be rolled
        back.

        Requires every to-be-restored data file to still exist (i.e. not
        vacuumed past its grace window) — verified against storage before
        committing; run under the maintenance lock like other maintenance
        ops so a concurrent vacuum cannot win the race between check and
        commit. Schema is NOT rolled back: log schema evolution is
        additive-union by design (reference wire contract), so columns
        added after ``at_ms`` simply read as NULL for restored files.

        Refuses while merge-on-read delete sets are pending (same guard as
        delete/update/merge_into/rewrite_partition): restored markers are
        stamped ``created_ms = now``, so a pending set (``ts < now``) would
        silently stop applying to them and rows the set still hides would
        resurrect. Run ``optimize()``/``apply_deletes()`` first.
        """
        self._mor_guard("rollback")
        horizon = self._log_horizon()
        if at_ms <= horizon:
            # a vacuum at `horizon` physically deleted log files, and a
            # deleted log served every instant up to that vacuum — the
            # fold at this instant may be PARTIAL (its markers now ride in
            # the newer collapsed log), so restoring it could silently
            # drop rows that were alive then
            raise RuntimeError(
                f"cannot roll back to {at_ms}: a vacuum at {horizon} "
                "deleted log files, so snapshots at or before it are no "
                "longer faithfully reconstructible; pick a snapshot after "
                "the last vacuum or increase the cleanup grace window"
            )
        old = self.snapshot(at_ms)
        cur = self.snapshot()
        if not old.log_files and cur.log_files:
            # tombstone_cleanup collapses superseded logs into newer ones,
            # so a timestamp older than the oldest retained log folds to an
            # EMPTY state — rolling back to it would silently truncate the
            # table, which is never what "restore that snapshot" meant
            raise RuntimeError(
                f"cannot roll back to {at_ms}: no log files at or before "
                "that instant — the snapshot is no longer reconstructible "
                "(logs collapsed past it by tombstone_cleanup); pick a "
                "younger snapshot or increase the cleanup grace window"
            )
        old_alive = {m.path: m for m in old.alive_files()}
        cur_alive = {m.path: m for m in cur.alive_files()}
        to_restore = [
            m for p, m in sorted(old_alive.items()) if p not in cur_alive
        ]
        to_remove = [
            m for p, m in sorted(cur_alive.items()) if p not in old_alive
        ]
        missing = [
            m.path for m in to_restore if not self.storage.exists(m.path)
        ]
        if missing:
            raise RuntimeError(
                f"cannot roll back to {at_ms}: {len(missing)} data files "
                f"were already vacuumed (first: {missing[0]}); pick a "
                "younger snapshot or increase the vacuum grace window"
            )
        if not to_restore and not to_remove:
            return {"files_restored": 0, "files_removed": 0}
        ts = unique_ms()
        markers = [
            FileMarker(m.path, ts, m.file_bytes, stats=m.stats)
            for m in to_restore
        ] + [
            FileMarker(m.path, m.created_ms, m.file_bytes, ts, m.stats)
            for m in to_remove
        ]
        self.log_io.append(
            self.log_storage, 1, cur.schema, markers, merged=True,
            timestamp_ms=ts, fence=self._fence(),
        )
        return {
            "files_restored": len(to_restore),
            "files_removed": len(to_remove),
        }

    @_maintenance_op
    def tombstone_cleanup(
        self,
        min_age_ms: int,
        concurrency: int = 16,
        dry_run: bool = False,
        protect_tags: bool = True,
    ) -> tuple[list[str], list[str]]:
        """Vacuum: physically delete data files whose tombstones and log
        files whose supersede-markers are older than ``min_age_ms``, then
        collapse surviving state into one fresh merged log (reference
        ``tombstone_cleanup``, /root/reference/icedb/icedb.py:327-433).

        ``protect_tags`` (default) keeps every TAGGED snapshot readable
        forever, whatever ``min_age_ms`` says: a data file still alive at
        some tag's instant is not deleted, a superseded log a tag still
        reads through is not deleted, and logs visible at a tag are not
        collapsed away (collapse replaces them at a NEWER timestamp, which
        a time-travel read at the tag cannot see). Tag-pinned garbage is
        reclaimed by a later vacuum once the tag is dropped. Pass
        ``protect_tags=False`` for the raw reference behavior.

        Deletes within each phase run ``concurrency``-wide (object-store
        deletes are latency-bound — a large vacuum is thousands of them);
        the phase ORDER is preserved: expired data files go first, then the
        collapsed state commits, then the superseded log files go — so a
        crash mid-vacuum never leaves the fresh log referencing a deleted
        file.

        Returns (deleted_log_files, deleted_data_files). Requires the same
        external exclusive lock as ``merge``. ``dry_run=True`` returns the
        same two lists (what WOULD be deleted) without deleting anything or
        committing the collapsed log — preview a vacuum before running it.
        """
        from concurrent.futures import ThreadPoolExecutor

        state = self.snapshot(keep_parsed=True)
        now = unique_ms()
        expired_cutoff = now - min_age_ms

        # a tag at instant T pins everything a read at T touches: an
        # artifact whose visibility window [born_ms, gone_ms) contains T
        # must survive this vacuum
        pins = sorted(self.tags().values()) if protect_tags else []

        def _pinned(born_ms: int, gone_ms: Optional[int]) -> bool:
            return any(
                born_ms <= T and (gone_ms is None or T < gone_ms)
                for T in pins
            )

        # Log tombstones past min_age name log files safe to physically
        # delete; younger ones are preserved in the collapsed log and their
        # superseded target logs STAY on disk until the grace period passes
        # (reference icedb/icedb.py:363-368) — so in-flight readers and
        # time-travel reads inside the window never hit a missing log. A
        # superseded log a tag still reads through (visible from its own
        # timestamp until its supersede instant) is reclassified young.
        expired_log_files = [
            t.path
            for t in state.log_tombstones
            if t.created_ms <= expired_cutoff
            and not _pinned(get_log_file_info(t.path)[0], t.created_ms)
        ]
        keep_tombstones = [
            t
            for t in state.log_tombstones
            if t.created_ms > expired_cutoff
            or _pinned(get_log_file_info(t.path)[0], t.created_ms)
        ]
        # the fold lists every on-disk log, so a young-tombstoned superseded
        # log appears in state.log_files — it is PROTECTED from collapse
        # (grace window), its replacement carries its markers already
        protected = {t.path for t in keep_tombstones}

        # data files to physically delete: FOLDED tombstone past the grace
        # (and no tag caught the file alive — [created, tombstoned))
        data_delete = {
            m.path: True
            for m in state.file_markers
            if m.tombstone is not None
            and m.tombstone <= expired_cutoff
            and not _pinned(m.created_ms, m.tombstone)
        }

        # Collapse set: merged logs (reference scans only `_m` logs,
        # icedb/icedb.py:351-352) PLUS any live log that references a
        # to-be-deleted file — leaving such a log (e.g. the original insert
        # log of a remove_partitions-dropped file, which was never merged)
        # would resurrect the deleted file under LWW once the merged log
        # carrying its tombstone is collapsed away.
        reads = self._log_contents(state, concurrency=concurrency)
        collapse: list[tuple[str, Schema, list[FileMarker]]] = []
        outside_refs: set[str] = set()
        for key, (_meta, sch, fms, _t) in reads:
            kts, merged = get_log_file_info(key)
            if key not in protected and not _pinned(kts, None) and (
                merged or any(fm.path in data_delete for fm in fms)
            ):
                collapse.append((key, sch, fms))
            else:
                outside_refs.update(fm.path for fm in fms)

        if not collapse and not expired_log_files and not data_delete:
            return [], []

        folded = {m.path: m for m in state.file_markers}
        data_keep: dict[str, FileMarker] = {}
        collapsed_schema = Schema()
        for _key, sch, fms in collapse:
            cols = sch.columns()
            collapsed_schema.accumulate(list(cols.keys()), list(cols.values()))
            for fm in fms:
                cur = folded.get(fm.path, fm)
                if cur.path in data_delete:
                    # a protected (young-tombstoned) log may still carry an
                    # alive marker for this path: pin the folded TOMBSTONED
                    # marker in the collapsed log so the deletion cannot be
                    # resurrected; dropped once nothing references it
                    if cur.path in outside_refs:
                        data_keep[cur.path] = cur
                    continue
                data_keep[cur.path] = cur

        # Phase order: expired data files first, then the collapsed commit,
        # then the superseded log files — a crash mid-vacuum never leaves
        # the fresh log referencing a deleted file.
        delete_paths = list(data_delete)
        if dry_run:
            return (
                list(
                    dict.fromkeys(
                        expired_log_files + [k for k, _s, _f in collapse]
                    )
                ),
                delete_paths,
            )
        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
            deleted_data = [
                p
                for p, _ in zip(delete_paths, ex.map(self.storage.delete, delete_paths))
            ]
        if collapse:
            self.log_io.append(
                self.log_storage,
                1,
                collapsed_schema,
                list(data_keep.values()),
                tombstones=keep_tombstones or None,
                merged=True,
                timestamp_ms=now,
                fence=self._fence(),
            )
        logs_to_delete = list(
            dict.fromkeys(expired_log_files + [k for k, _s, _f in collapse])
        )
        # Advance the rollback horizon BEFORE deleting any log: a deleted
        # log served EVERY instant from its stamp until this vacuum (its
        # markers now ride only in the collapsed log stamped `now`), so
        # every pre-vacuum instant may fold partially — the horizon is the
        # vacuum's own timestamp. Writing first is the crash-safe order: a
        # horizon with no deletion only over-refuses.
        if logs_to_delete:
            self._advance_log_horizon(now)
        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
            deleted_logs = [
                k
                for k, _ in zip(
                    logs_to_delete, ex.map(self.log_storage.delete, logs_to_delete)
                )
            ]
        # merge-on-read delete sets: once no ALIVE file predates a set,
        # compaction has folded it into the data and it only matters to
        # time travel — so it follows vacuum retention (grace + tag pins;
        # a tag at T >= set_ts may still read pre-compaction files).
        # Retention is gated on the FOLD age, not the set's own age: a
        # time-travel read at any instant in [set_ts, fold) resolves
        # pre-fold files (their tombstones are young and survive this
        # vacuum) and NEEDS the set to hide the deleted rows — so the set
        # must outlive the newest tombstone among the files it applied to,
        # or rows would resurrect inside the grace window.
        alive_now = state.alive_files()
        for ts, _pred in self._mor_sets():
            if any(self._mor_applies(m, ts) for m in alive_now):
                continue
            fold_ms = max(
                (
                    m.tombstone
                    for m in state.file_markers
                    if m.tombstone is not None and self._mor_applies(m, ts)
                ),
                default=ts,
            )
            if max(ts, fold_ms) <= expired_cutoff and not _pinned(ts, None):
                self.storage.delete(f"{self._MOR_PREFIX}/{ts}.json")
        return deleted_logs, deleted_data

    _HORIZON_KEY = "_meta/log_horizon"

    def _advance_log_horizon(self, ts: int) -> None:
        self.log_storage.put(
            self._HORIZON_KEY, str(max(ts, self._log_horizon())).encode()
        )

    def _log_horizon(self) -> int:
        """Timestamp of the newest vacuum that physically deleted a log
        file — folds at instants <= this may be partial (a deleted log
        served every instant from its stamp until that vacuum; its markers
        now ride only in the newer collapsed log), so rollback refuses
        them. 0 if no vacuum has deleted a log."""
        try:
            if self.log_storage.exists(self._HORIZON_KEY):
                return int(self.log_storage.get(self._HORIZON_KEY))
        except (ValueError, OSError):
            pass
        return 0

    @_maintenance_op
    def gc_orphans(
        self, grace_ms: int = 24 * 3600 * 1000, dry_run: bool = False
    ) -> tuple[list[str], list[str]]:
        """Delete data files no log entry references — the garbage a writer
        that crashed between its data PUTs and its log commit leaves behind
        (visibility comes only from the log, so such files are invisible but
        billable forever). Returns ``(deleted, kept_young)`` keys;
        ``dry_run=True`` returns the same lists without deleting.

        The referenced set is every marker path in the folded log (alive AND
        tombstoned — tombstoned files stay until ``tombstone_cleanup``). The
        snapshot is taken BEFORE the listing, so a file committed mid-GC can
        only look orphaned while younger than ``grace_ms``; keep the grace
        above the longest possible write-to-commit latency and this is safe
        to run beside live inserts. Files with unknown mtime are kept.

        Unlike every other operation here (O(touched metadata)), this LISTS
        the data prefix — O(files) — by necessity: orphans are exactly the
        files the metadata cannot see. Schedule it like the reference
        schedules vacuum: rarely.

        Clock-skew caveat: ages compare DRIVER ``now_ms()`` against BACKEND
        mtimes (e.g. S3 ``LastModified``), so driver/object-store skew
        silently shrinks the effective grace. Keep ``grace_ms`` well above
        (max write-to-commit latency + plausible skew); values under
        ``MIN_SAFE_GC_GRACE_MS`` warn, because beside a live writer they
        can delete an in-flight insert's uncommitted data files.
        """
        if grace_ms < MIN_SAFE_GC_GRACE_MS:
            warnings.warn(
                f"gc_orphans(grace_ms={grace_ms}) is below the safe minimum "
                f"{MIN_SAFE_GC_GRACE_MS}; beside live writers this can delete "
                "uncommitted in-flight data files (and driver/object-store "
                "clock skew shrinks the window further). Use a grace above "
                "your longest write-to-commit latency plus skew.",
                stacklevel=2,
            )
        # fold the UNFILTERED log for the reference set: a pending
        # transaction's already-published data files are referenced only
        # by txn-tagged logs a filtered snapshot hides — treating them
        # as orphans would delete files a committing transaction is
        # about to make visible. (The _txn_guard refuses gc outright
        # while a pending transaction involves this table; this keeps
        # the reference computation safe even for the guard's blind
        # spots, e.g. a transaction whose intent lands mid-listing.)
        state = self.log_io.read_at_max_time(self.log_storage, None)
        referenced = {m.path for m in state.file_markers}
        cutoff = now_ms() - grace_ms
        deleted: list[str] = []
        kept: list[str] = []
        # include_hidden: a POSIX writer that died before its atomic rename
        # leaves a `.tmp-` file — invisible to normal listings by design,
        # but exactly the garbage this pass exists to collect (tmp names
        # never appear in log markers, so they can only be orphans)
        for key, _size in self.storage.list("_data", include_hidden=True):
            if key in referenced:
                continue
            mt = self.storage.mtime_ms(key)
            if mt is not None and mt <= cutoff:
                if not dry_run:
                    self.storage.delete(key)
                deleted.append(key)
            else:
                kept.append(key)
        # change sets whose timestamp names no committed log are orphans
        # too: a crashed pre-commit capture, or a set whose commit log a
        # vacuum collapsed away (feed retention = time-travel retention)
        committed = {get_log_file_info(k)[0] for k in state.log_files}
        for key, _size in self.storage.list(
            self._CHANGES_PREFIX, include_hidden=True
        ):
            seg = key.split("/")
            ts = None
            if len(seg) >= 2:
                try:
                    ts = int(seg[1])
                except ValueError:
                    ts = None
            if ts is not None and ts in committed:
                continue
            mt = self.storage.mtime_ms(key)
            if mt is not None and mt <= cutoff:
                if not dry_run:
                    self.storage.delete(key)
                deleted.append(key)
            else:
                kept.append(key)
        return deleted, kept

    # ------------------------------------------------------- partition admin

    @_maintenance_op
    def remove_partitions(
        self,
        removal_fn: Callable[[list[str]], list[str]],
        max_files: int = 1000,
    ) -> int:
        """Log-only partition drop (TTL / user deletion): tombstone every
        alive file of the partitions the callback selects. O(metadata), no
        data I/O (reference ``remove_partitions``,
        /root/reference/icedb/icedb.py:435-501)."""
        state = self.snapshot()
        by_part: dict[str, list[FileMarker]] = {}
        for m in state.alive_files():
            by_part.setdefault(m.partition(), []).append(m)
        victims = removal_fn(sorted(by_part.keys()))
        ts = unique_ms()
        tombstoned: list[FileMarker] = []
        for p in victims:
            for m in by_part.get(p, []):
                if len(tombstoned) >= max_files:
                    break
                tombstoned.append(
                    FileMarker(m.path, m.created_ms, m.file_bytes, ts, m.stats)
                )
        if tombstoned:
            self.log_io.append(
                self.log_storage, 1, state.schema, tombstoned,
                merged=True, timestamp_ms=ts, fence=self._fence(),
            )
        return len(tombstoned)

    @_maintenance_op
    def rewrite_partition(
        self, partition: str, filter_query: str, concurrency: int = 8
    ) -> list[str]:
        """GDPR-style rewrite: pass every live file of one partition through
        ``filter_query`` (SQL over a ``_rows`` view of that file), write
        replacements, tombstone originals — one atomic log append (reference
        ``rewrite_partition``, /root/reference/icedb/icedb.py:503-589).
        The per-file jobs are independent and run ``concurrency``-wide; the
        single commit at the end keeps the whole rewrite atomic.

        The query must not add columns (same contract as the reference,
        icedb/icedb.py:508-510)."""
        self._mor_guard("rewrite_partition")
        state = self.snapshot()
        schema = self.spark_schema(state)
        known = set(state.schema.columns().keys())
        targets = [m for m in state.alive_files() if m.partition() == partition]

        def rewrite_one(m: FileMarker) -> list[FileMarker]:
            df = self._scan_paths([self.storage.absolute(m.path)], schema)
            with _VIEW_LOCK:
                df.createOrReplaceTempView("_rows")
                out = self.spark.sql(filter_query)
            extra = [c for c in out.columns if c not in known]
            if extra:
                raise ValueError(
                    f"rewrite query may not add columns; got new columns {extra}"
                )
            # sized by the SOURCE file's known bytes: the filter query only
            # removes/edits rows within the file's schema
            return self._write_groups(out, part=partition, nbytes=m.file_bytes)

        from concurrent.futures import ThreadPoolExecutor

        new_files: list[FileMarker] = []
        rewritten: list[str] = []
        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
            for m, files in zip(targets, ex.map(rewrite_one, targets)):
                new_files.extend(files)
                rewritten.append(m.path)
        # stamp at COMMIT time, after the rewrite jobs: a log named with a
        # pre-job timestamp would retroactively change what snapshot(at_ms)
        # returns for instants during the rewrite (insert and _commit_merge
        # both stamp at commit)
        ts = unique_ms()
        new_markers = [
            FileMarker(m.path, ts, m.file_bytes, stats=m.stats) for m in new_files
        ]
        tombstoned = [
            FileMarker(m.path, m.created_ms, m.file_bytes, ts, m.stats)
            for m in targets
        ]
        if new_markers or tombstoned:
            self.log_io.append(
                self.log_storage, 1, state.schema,
                new_markers + tombstoned, merged=True, timestamp_ms=ts,
                fence=self._fence(),
            )
        return rewritten


    # --------------------------------------------------------------- row DML
    def _dml_candidates(
        self, state: LogState, where: str
    ) -> list[FileMarker]:
        """Alive files that MAY hold a row matching ``where`` — the same
        conservative predicate→hint derivation ``sql(auto_prune=True)``
        uses (partition identity, zone maps, Blooms). Anything unprovable
        keeps the file, so DML never misses a row; pruning only shrinks
        the copy-on-write working set."""
        hints = derive_scan_hints(
            f"select * from _t where {where}",
            "_t",
            self._identity_partition_cols(),
        )
        return self.files_for(state=state, **hints)

    def _write_rewrite(
        self, df: DataFrame, pin_partition: Optional[str] = None
    ) -> list[FileMarker]:
        """Write DML-transformed rows through the standard sorted-group
        writer and return UNSTAMPED markers (``created_ms`` filled at
        commit). ``pin_partition`` keeps rows in their source file's
        partition (delete: values unchanged); otherwise placement is
        recomputed so updated/merged rows migrate to the partition their
        new values imply."""
        if pin_partition is None and _PART_COL not in df.columns:
            # a pre-attached _PART_COL (two-job DML maps placement from
            # each row's source-file path) is honored as-is
            df = self._attach_partition(df)
        return self._write_groups(df, part=pin_partition)

    _CHANGES_PREFIX = "_changes"

    def _write_change_set(
        self,
        ts: int,
        parts: list[tuple[DataFrame, str]],
        schema: T.StructType,
    ) -> None:
        """Write the row-level change set of a DML commit to
        ``_changes/<commit_ts>/`` (one Spark-native parquet write). Runs
        BEFORE the log append: the commit timestamp is the linkage, so a
        crash between this write and the commit leaves a change set no
        committed log names — ``changes_feed`` never exposes it and
        ``gc_orphans`` collects it."""
        cols = [f.name for f in schema.fields]
        out = None
        for df, kind in parts:
            d = df.select(*[F.col(c) for c in cols]).withColumn(
                "_change_type", F.lit(kind)
            )
            out = d if out is None else out.unionByName(d)
        if out is None:
            return
        target = self.storage.absolute(f"{self._CHANGES_PREFIX}/{ts}")
        scheme = target.split("://", 1)[0] if "://" in target else ""
        if not scheme or self._jvm_reads_scheme(scheme):
            out.write.mode("overwrite").parquet(target)
            return
        # pyarrow fallback WRITE (the mirror of _scan_paths' fallback
        # read): no hadoop filesystem for the scheme, so each task
        # writes its batches as one parquet file into the fresh
        # per-commit directory through pyarrow.fs — same executor-side
        # client and credential channel as the insert writer. The
        # directory is named by a unique commit ts, so direct writes
        # are safe: a crash leaves a change set no committed log names.
        fs_opts = self.storage_options
        compression = self.compression

        def _write(batches):
            import uuid as u

            import pyarrow as pa
            import pyarrow.parquet as pq

            bl = [b for b in batches if b.num_rows]
            if not bl:
                return
            fs, base = arrow_fs(target, fs_opts)
            fs.create_dir(base, recursive=True)
            full = f"{base.rstrip('/')}/part-{u.uuid4().hex}.parquet"
            with fs.open_output_stream(full) as sink:
                pq.write_table(
                    pa.Table.from_batches(bl), sink,
                    compression=compression,
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array([full])], names=["path"]
            )

        manifest = T.StructType([T.StructField("path", T.StringType())])
        out.mapInArrow(_write, manifest).collect()

    def _feed_schema(self, schema: T.StructType) -> T.StructType:
        return T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType(), True)]
        )

    def _commit_dml(
        self,
        state: LogState,
        new_markers: list[FileMarker],
        replaced: list[FileMarker],
        schema: Optional[Schema] = None,
        tag: Optional[str] = None,
        timestamp_ms: Optional[int] = None,
    ) -> int:
        """One atomic merged-type log append: new files + tombstones for
        every replaced file, stamped at commit time (same rationale as
        ``rewrite_partition``: a pre-job stamp would retroactively change
        time travel for instants during the job). ``schema`` overrides the
        snapshot schema for schema-evolving DML (merge_into with
        ``allow_new_columns``); ``tag`` embeds an idempotency token in the
        log file name (streaming upsert replay dedup); ``timestamp_ms``
        pins the stamp when a change set was pre-written under it."""
        if not new_markers and not replaced:
            return 0
        # transaction-scoped DML (icedb_spark.txn): ops executed inside
        # CatalogTransaction.commit() run under this override so their
        # commits carry the txn tag and the transaction's shared instant
        ov = getattr(self._lock_local, "txn_override", None)
        if ov is not None:
            tag = tag or ov[0]
            if timestamp_ms is None:
                timestamp_ms = ov[1]
        ts = timestamp_ms if timestamp_ms is not None else unique_ms()
        stamped = [
            FileMarker(m.path, ts, m.file_bytes, stats=m.stats)
            for m in new_markers
        ]
        tombstoned = [
            FileMarker(m.path, m.created_ms, m.file_bytes, ts, m.stats)
            for m in replaced
        ]
        self.log_io.append(
            self.log_storage, 1, schema or state.schema,
            stamped + tombstoned, merged=True, timestamp_ms=ts, tag=tag,
            fence=self._fence(),
        )
        return ts

    _IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

    def _predicate_schema(
        self, schema: T.StructType, *exprs: str
    ) -> T.StructType:
        """``schema`` projected to the fields a SQL expression could
        reference: any field whose name appears as an identifier token
        in the text (conservative superset — a field name inside a
        string literal merely widens the projection; an expression
        cannot reference a column without spelling its name). On the
        pyarrow fallback path this keeps a keyed DELETE/UPDATE's
        touch-detection pass from reading every column of a wide table
        (the JVM path gets the same effect from parquet column pruning).
        Falls back to the full schema on backtick-quoted identifiers
        (may contain chars the token scan misses) and keeps one field
        when nothing matches (counting needs a column to count)."""
        if any("`" in (e or "") for e in exprs):
            return schema
        idents = set()
        for e in exprs:
            idents.update(
                t.lower() for t in self._IDENT_RE.findall(e or "")
            )
        fields = [f for f in schema.fields if f.name.lower() in idents]
        if not fields:
            fields = list(schema.fields[:1])
        return T.StructType(fields)

    def _per_file_match_counts(
        self,
        targets: list[FileMarker],
        schema: T.StructType,
        pred,
        predicate_text: Optional[str] = None,
    ) -> list[tuple[FileMarker, int, int]]:
        """ONE Spark job computing (total, matched) per candidate file via
        ``input_file_name()`` grouping — the two-job DML strategy's
        touch-detection pass. ``predicate_text`` projects the scan to
        the predicate's columns so the pass reads only those on BOTH
        scan paths (the fallback's ``mapInArrow`` boundary blocks
        Catalyst's pruning; the JVM parquet reader prunes either way)."""
        by_norm = {
            _strip_scheme(self.storage.absolute(m.path)): m for m in targets
        }
        scan_schema = (
            self._predicate_schema(schema, predicate_text)
            if predicate_text is not None
            else schema
        )
        rows = (
            self._scan_paths(
                [self.storage.absolute(m.path) for m in targets],
                scan_schema, file_col="_ice_src",
            )
            .groupBy("_ice_src")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count(F.when(pred, 1)).alias("matched"),
            )
            .collect()
        )
        return [(by_norm[r["_ice_src"]], r["total"], r["matched"])
                for r in rows]

    def _placement_mapping(self, markers: list[FileMarker]) -> DataFrame:
        """Tiny broadcastable (source-file → partition) frame so the
        distributed rewrite can place each surviving row back into its
        file's partition without recomputing the partition expression."""
        return self.spark.createDataFrame(
            [
                (_strip_scheme(self.storage.absolute(m.path)), m.partition())
                for m in markers
            ],
            T.StructType([
                T.StructField("_ice_src", T.StringType(), False),
                T.StructField(_PART_COL, T.StringType(), False),
            ]),
        )

    # ------------------------------------------- merge-on-read deletes

    _MOR_PREFIX = "_deletes"

    def _mor_sets(self, at_ms: Optional[int] = None) -> list[tuple[int, str]]:
        """Pending merge-on-read delete sets visible at ``at_ms``:
        ``[(ts, predicate), ...]`` ascending. A set applies to rows of
        files CREATED BEFORE its timestamp (rows that existed when the
        DELETE ran — later inserts of matching rows are untouched, exactly
        SQL DELETE semantics)."""
        out = []
        for key, _size in self.storage.list(self._MOR_PREFIX):
            name = key.rsplit("/", 1)[-1]
            if not name.endswith(".json"):
                continue
            try:
                ts = int(name[:-5])
            except ValueError:
                continue
            if at_ms is not None and ts > at_ms:
                continue
            try:
                raw = self.storage.get(key)
            except FileNotFoundError:
                continue  # collected by a vacuum between list and GET
            out.append((ts, json.loads(raw.decode())["predicate"]))
        return sorted(out)

    _MOR_STATS_KEY = "~mor"

    def _mor_applies(self, m: FileMarker, set_ts: int) -> bool:
        """Does the delete set stamped ``set_ts`` still apply to rows of
        file ``m``? Yes iff the file's rows predate the set (created
        before it) AND no rewrite has folded that set in yet (rewrites
        carry the max folded set ts in the reserved ``~mor`` stats key —
        merged markers inherit their sources' created_ms for vacuum-age
        semantics, so created_ms alone cannot prove the fold)."""
        if m.created_ms >= set_ts:
            return False
        folded = ((m.stats or {}).get(self._MOR_STATS_KEY)) or 0
        return folded < set_ts

    def _mor_guard(self, op: str) -> None:
        sets = self._mor_sets()
        if sets:
            raise RuntimeError(
                f"{op} cannot run with {len(sets)} pending merge-on-read "
                "delete set(s): a rewrite would re-materialize rows the "
                "sets still hide (fresh files escape their applicability "
                "window). Run optimize() to fold the deletes into the "
                "data, then vacuum collects the obsolete sets."
            )

    def _mor_read(
        self, files: list[FileMarker], schema, sets: list[tuple[int, str]]
    ) -> DataFrame:
        """Union of per-applicability file groups with each group's
        pending delete predicates applied as filters — the merge-on-read
        half of every scan. Typically two groups (pre-delete files with
        the filter, post-delete files without), so the plan stays one scan
        per group with the NOT-predicate fused into it."""
        groups: dict[tuple, list[tuple[str, int]]] = {}
        for m in files:
            key = tuple(
                i
                for i, (ts, _p) in enumerate(sets)
                if self._mor_applies(m, ts)
            )
            groups.setdefault(key, []).append(
                (self.storage.absolute(m.path), m.file_bytes)
            )
        out: Optional[DataFrame] = None
        for key, members in sorted(groups.items()):
            df = self._scan_paths(
                [p for p, _ in members],
                schema,
                sizes=[b for _, b in members],
            )
            for i in key:
                df = df.where(
                    ~F.coalesce(F.expr(sets[i][1]).cast("boolean"), F.lit(False))
                )
            out = df if out is None else out.unionByName(df)
        return out

    def delete_where(self, where: str) -> dict:
        """Merge-on-read DELETE: O(1) write cost whatever the table size —
        one small ``_deletes/<ts>.json`` PUT records the predicate, and
        every subsequent scan applies ``NOT coalesce(where, FALSE)`` to
        rows of files created before it (later inserts are untouched: SQL
        DELETE semantics, time-scoped by file ``created_ms``). The
        streaming-deletes / GDPR-queue path where copy-on-write rewrite
        cost per delete is unaffordable.

        The debt is paid at compaction: ``merge``/``optimize`` fold the
        applicable predicates into each rewrite (``apply_deletes()``
        forces the fold for files compaction would not otherwise touch),
        and once no alive file predates a set, vacuum collects it
        (tag-pinned sets are kept, so tagged time travel stays exact).
        Until then, row-level DML
        (copy-on-write delete / update / merge_into / rewrite_partition)
        refuses to run — a rewrite would resurrect hidden rows — and the
        DataSource batch reader refuses the table for the same reason.
        External raw-parquet consumers taking :meth:`files_for` lists
        carry the same obligation: consult ``_mor_sets()`` (or require an
        ``apply_deletes()`` before export) — raw files do not know about
        predicate deletes, exactly as raw Delta files do not know about
        deletion vectors.
        CDC note: merge-on-read deletes record no row images; use
        ``delete(..., capture_changes=True)`` where a change feed needs
        the deleted rows.
        """
        # validate the predicate against the current schema before
        # publishing (a typo'd column must fail NOW, not at every scan)
        state = self.snapshot()
        schema = self.spark_schema(state)
        self.spark.createDataFrame([], schema).where(
            F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
        ).schema  # analysis only
        ts = unique_ms()
        self.storage.put(
            f"{self._MOR_PREFIX}/{ts}.json",
            json.dumps({"predicate": where, "ts": ts}).encode(),
        )
        return {"ts": ts, "predicate": where, "mode": "merge_on_read"}

    @_maintenance_op
    def apply_deletes(self, concurrency: int = 8) -> int:
        """Pay down the merge-on-read debt NOW: rewrite every alive file
        some pending delete set still applies to (folding the predicates
        in, exactly as merge does) in one atomic commit. Returns the file
        count rewritten. ``merge``/``optimize`` fold sets opportunistically
        as they compact; this targets files compaction has no other reason
        to touch (e.g. a single-file partition). After it, the sets are
        obsolete and the next vacuum collects them, lifting the rewrite
        guards."""
        from concurrent.futures import ThreadPoolExecutor

        sets = self._mor_sets()
        if not sets:
            return 0
        state = self.snapshot(keep_parsed=True)
        by_part: dict[str, list[FileMarker]] = {}
        for m in state.alive_files():
            if any(self._mor_applies(m, ts) for ts, _p in sets):
                by_part.setdefault(m.partition(), []).append(m)
        if not by_part:
            return 0
        plans = sorted(by_part.items())
        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
            rewritten = list(
                ex.map(
                    lambda pa: (pa[0], pa[1], *self._rewrite_for_merge(state, *pa)),
                    plans,
                )
            )
        self._commit_merge(state, rewritten)
        return sum(len(acc) for _part, acc in plans)

    def _rewrite_matching(
        self,
        state: LogState,
        schema: T.StructType,
        where: str,
        rewrite,
        *,
        drop_full: bool,
        pin: bool,
        changes: Optional[tuple[str, ...]],
        concurrency: int,
    ) -> dict:
        """The copy-on-write core of :meth:`delete` and :meth:`update`:
        rewrite every alive file holding a row where ``where`` is TRUE,
        in one atomic commit.

        ``rewrite(df, pred)`` maps a touched file's rows to their
        replacements (it must keep unknown columns). ``drop_full``
        tombstones fully-matched files with no write at all; ``pin``
        keeps rewritten rows in their source file's partition instead of
        recomputing placement. ``changes`` names the captured change-set
        parts: the first the matched rows before the rewrite, an
        optional second the same rows after it; ``None`` captures
        nothing.

        Strategy, by candidate count alone: up to
        ``_DML_DISTRIBUTED_THRESHOLD`` files run one matched-count job
        and one rewrite per file, ``concurrency``-wide; past it,
        exactly two cluster-wide jobs run whatever the file count — a
        per-file matched-count pass grouped on ``input_file_name()``,
        then one rewrite of the touched files (which also compacts each
        touched partition's survivors into one file)."""
        targets = self._dml_candidates(state, where)
        pred = F.coalesce(F.expr(where), F.lit(False))
        dropped: list[FileMarker] = []
        rewritten: list[FileMarker] = []
        new_markers: list[FileMarker] = []
        matched = 0
        if len(targets) > _DML_DISTRIBUTED_THRESHOLD:
            counts = self._per_file_match_counts(
                targets, schema, pred, predicate_text=where
            )
            for m, total, mat in counts:
                matched += mat
                if mat:
                    full = drop_full and mat == total
                    (dropped if full else rewritten).append(m)
            if rewritten:
                out = rewrite(
                    self._scan_paths(
                        [self.storage.absolute(m.path) for m in rewritten],
                        schema, file_col="_ice_src",
                    ),
                    pred,
                )
                if pin:
                    out = out.join(
                        F.broadcast(self._placement_mapping(rewritten)),
                        "_ice_src",
                    )
                new_markers = self._write_rewrite(out.drop("_ice_src"))
        else:
            from concurrent.futures import ThreadPoolExecutor

            def rewrite_one(m: FileMarker):
                df = self._scan_paths([self.storage.absolute(m.path)], schema)
                total, mat = df.select(
                    F.count(F.lit(1)), F.count(F.when(pred, 1))
                ).first()
                if not mat or (drop_full and mat == total):
                    return mat, None
                part = m.partition() if pin else None
                return mat, self._write_rewrite(rewrite(df, pred), part)

            with ThreadPoolExecutor(max_workers=max(1, concurrency)) as ex:
                for m, (mat, files) in zip(
                    targets, ex.map(rewrite_one, targets)
                ):
                    matched += mat
                    if files is not None:
                        rewritten.append(m)
                        new_markers.extend(files)
                    elif mat:
                        dropped.append(m)
        replaced = dropped + rewritten
        ts = None
        if changes and replaced:
            pre = self._scan_paths(
                [self.storage.absolute(m.path) for m in replaced], schema
            ).where(pred)
            parts = [(pre, changes[0])]
            parts += [(rewrite(pre, pred), kind) for kind in changes[1:]]
            ts = unique_ms()
            self._write_change_set(ts, parts, schema)
        self._commit_dml(state, new_markers, replaced, timestamp_ms=ts)
        return {
            "files_scanned": len(targets),
            "files_rewritten": len(rewritten),
            "files_dropped": len(dropped),
            "rows_matched": matched,
        }

    @_maintenance_op
    def delete(
        self,
        where: str,
        concurrency: int = 8,
        capture_changes: bool = False,
    ) -> dict:
        """Row-level ``DELETE FROM t WHERE ...`` via copy-on-write
        (beyond reference — its deletion story stops at partition drops and
        hand-written ``rewrite_partition`` queries,
        /root/reference/icedb/icedb.py:435-589).

        SQL semantics: rows where ``where`` is TRUE are removed; FALSE and
        NULL rows survive. Scale shape: the predicate first prunes the
        candidate file list driver-side (partition identity + zone maps +
        Blooms — a keyed delete on a 100 TB table touches only the files
        that can match); ONLY files with matching rows are rewritten
        (fully-matched files are tombstoned with no write at all); a single
        atomic commit publishes the whole delete. Execution strategy
        (per-file jobs vs two cluster-wide jobs) is picked by candidate
        count; see :meth:`_rewrite_matching`. Returns a summary dict.
        """
        self._mor_guard("delete(copy_on_write)")
        state = self.snapshot()
        s = self._rewrite_matching(
            state, self.spark_schema(state), where,
            lambda df, pred: df.where(~pred),
            drop_full=True, pin=True,
            changes=("delete",) if capture_changes else None,
            concurrency=concurrency,
        )
        s["rows_deleted"] = s.pop("rows_matched")
        return s

    @_maintenance_op
    def update(
        self,
        set: dict[str, str],
        where: str = "true",
        concurrency: int = 8,
        capture_changes: bool = False,
    ) -> dict:
        """Row-level ``UPDATE t SET col = expr WHERE ...`` via copy-on-write
        (beyond reference). ``set`` maps existing columns to SQL expressions
        evaluated per row (they may reference any column); assignments apply
        only where ``where`` is TRUE (NULL = no update, SQL semantics), and
        each assigned expression is cast back to the column's current type —
        UPDATE never changes the schema.

        Same scale shape as :meth:`delete` (predicate-pruned candidates,
        matched-count gate, only touched files rewritten, per-file jobs vs
        two cluster-wide jobs auto-picked by candidate count, one atomic
        commit) with one difference: placement is RECOMPUTED when an
        assigned column feeds the partition expression, so such updates
        migrate their rows to the right partition instead of stranding
        them (otherwise rows stay pinned to their source partition).
        """
        self._mor_guard("update")
        assignments = dict(set)
        state = self.snapshot()
        schema = self.spark_schema(state)
        by_name = {f.name: f.dataType for f in schema.fields}
        unknown = [c for c in assignments if c not in by_name]
        if unknown:
            raise ValueError(
                f"update may not add columns; unknown columns {unknown}"
            )

        # pin rows to their source partition only when no assigned column
        # can alter placement; a Python-callable partition fn (fields=None)
        # may read anything, so it always recomputes
        if self.partition_spec and self.partition_spec.fields is not None:
            part_cols = {"_partition"}
            for f in self.partition_spec.fields:
                part_cols |= {
                    t for t in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", f.expr)
                }
            placement_safe = not (part_cols & assignments.keys())
        else:
            placement_safe = False

        def apply_assignments(df: DataFrame, pred) -> DataFrame:
            return df.select(
                *[
                    F.when(pred, F.expr(assignments[c]).cast(by_name[c]))
                    .otherwise(F.col(c)).alias(c)
                    if c in assignments else F.col(c)
                    for c in df.columns
                ]
            )

        s = self._rewrite_matching(
            state, schema, where, apply_assignments,
            drop_full=False, pin=placement_safe,
            changes=(
                ("update_preimage", "update_postimage")
                if capture_changes else None
            ),
            concurrency=concurrency,
        )
        del s["files_dropped"]
        s["rows_updated"] = s.pop("rows_matched")
        return s

    @_maintenance_op
    def merge_into(
        self,
        source: DataFrame,
        on: Union[str, list[str]],
        when_matched: Union[str, dict, None] = "update",
        when_not_matched: Optional[str] = "insert",
        allow_new_columns: bool = False,
        commit_tag: Optional[str] = None,
        broadcast_source: bool = True,
        capture_changes: bool = False,
    ) -> dict:
        """``MERGE INTO t USING source ON keys`` — upsert via copy-on-write
        (beyond reference; the standard lakehouse CoW MERGE shape).

        ``when_matched``: ``"update"`` replaces every shared non-key column
        with the source's value; ``"delete"`` drops matched rows; a dict
        maps target columns to SQL expressions over aliases ``t`` (target
        row) and ``s`` (source row); ``None`` leaves matches untouched.
        ``when_not_matched``: ``"insert"`` appends source rows with no
        match (missing table columns null-seeded), ``None`` ignores them.
        Source keys must be unique (ambiguous-match guard).

        ``broadcast_source=False`` drops the broadcast hints for a
        backfill-scale source (too big for the driver): the semi-join and
        transform join plan as plain equi-joins and AQE picks the
        physical strategy.

        ``allow_new_columns=True`` lets the source carry columns the table
        doesn't have yet (the mergeSchema analog): they accumulate into
        the log schema in the same atomic commit, rewritten/inserted rows
        carry them, and every untouched file simply reads back null-seeded
        — exactly the engine's normal schema-evolution path (`ice10`),
        no backfill rewrite. Without the flag, unknown source columns
        raise.

        Scale shape, assuming the usual small-source/large-target MERGE:
        (1) the source's per-key min/max prunes candidate files driver-side
        via zone maps; (2) one broadcast semi-join finds the files that
        actually hold matches — ONLY those are rewritten; (3) matched rows
        are transformed with a single broadcast left join; (4) inserts are
        the source anti-joined against the touched rows (sound because any
        source key present anywhere in the table lives in a touched file);
        (5) one shuffle places the result by partition, each task writes
        one file, and a single atomic commit publishes new files +
        tombstones. Untouched files are never read past their footer
        stats. The commit is merge-typed, so like all CoW rewrites it is
        invisible to :meth:`changes` — CDC consumers see MERGE-inserted
        rows only via a fresh snapshot read.
        """
        self._mor_guard("merge_into")
        if isinstance(on, str):
            on = [on]
        if when_matched not in ("update", "delete", None) and not isinstance(
            when_matched, dict
        ):
            raise ValueError(
                "when_matched must be 'update', 'delete', a {col: expr} "
                f"dict, or None; got {when_matched!r}"
            )
        if when_not_matched not in ("insert", None):
            raise ValueError(
                f"when_not_matched must be 'insert' or None; got "
                f"{when_not_matched!r}"
            )
        state = self.snapshot()
        schema = self.spark_schema(state)
        tcols = [f.name for f in schema.fields]
        by_name = {f.name: f.dataType for f in schema.fields}
        base_cols = set(tcols)
        extra = [c for c in source.columns if c not in by_name]
        if extra and not allow_new_columns:
            raise ValueError(
                f"merge_into source has columns not in the table: {extra} "
                "(pass allow_new_columns=True to evolve the schema)"
            )
        commit_schema: Optional[Schema] = None
        if extra:
            src_types = {f.name: f.dataType for f in source.schema.fields}
            for c in extra:
                by_name[c] = src_types[c]
            new_cols = spark_schema_to_duckdb(
                T.StructType(
                    [T.StructField(c, by_name[c], True) for c in extra]
                )
            )
            existing = state.schema.columns()
            commit_schema = Schema()
            # accumulate raises SchemaConflictException on type clashes,
            # same contract as insert-time evolution
            commit_schema.accumulate(
                list(existing.keys()), list(existing.values())
            )
            commit_schema.accumulate(
                list(new_cols.keys()), list(new_cols.values())
            )
            tcols = tcols + extra
        missing = [k for k in on if k not in source.columns]
        if missing:
            raise ValueError(f"source is missing merge key columns {missing}")
        if isinstance(when_matched, dict):
            unknown = [c for c in when_matched if c not in by_name]
            if unknown:
                raise ValueError(
                    f"when_matched may not add columns; unknown {unknown}"
                )
        source = source.select(
            *[F.col(c).cast(by_name[c]).alias(c) for c in source.columns]
        )
        if (
            source.groupBy(*on).count()
            .where(F.col("count") > 1).limit(1).count()
        ):
            raise ValueError(
                f"merge_into source has duplicate keys on {on} — each "
                "target row must match at most one source row"
            )

        def _bcast(d: DataFrame) -> DataFrame:
            # the usual MERGE has a small source — broadcast both the
            # touch semi-join and the transform join. For a backfill-scale
            # source pass broadcast_source=False: the joins become plain
            # equi-joins and AQE picks the physical strategy (shuffle hash
            # / sort-merge), trading latency for not OOMing the driver.
            return F.broadcast(d) if broadcast_source else d

        # (1) zone-map pruning from the source's key envelope
        aggs = []
        for k in on:
            aggs += [F.min(k).alias(f"mn_{k}"), F.max(k).alias(f"mx_{k}")]
        env = source.agg(*aggs).first()
        ranges = {
            k: (_stat_value(env[f"mn_{k}"]), _stat_value(env[f"mx_{k}"]))
            for k in on
            if env[f"mn_{k}"] is not None
        }
        cands = self.files_for(state=state, column_ranges=ranges or None)

        # (2) which candidate files actually hold a matching key
        touched: list[FileMarker] = []
        if cands and when_matched is not None:
            by_path = {
                _strip_scheme(self.storage.absolute(m.path)): m for m in cands
            }
            # touch detection needs only the key columns: project the
            # scan so a MERGE on a wide table reads just the keys here
            # (full-width reads happen only for the touched files below)
            key_fields = [f for f in schema.fields if f.name in set(on)]
            key_schema = (
                T.StructType(key_fields)
                if len(key_fields) == len(on)
                else schema
            )
            tgt = self._scan_paths(
                [self.storage.absolute(m.path) for m in cands],
                key_schema, file_col="_ice_src",
            )
            hit = (
                tgt.join(
                    _bcast(source.select(*on).distinct()), on=on,
                    how="left_semi",
                )
                .select("_ice_src").distinct().collect()
            )
            touched = [by_path[_strip_scheme(r[0])] for r in hit]

        parts: list[DataFrame] = []
        change_parts: list[tuple[DataFrame, str]] = []
        summary = {"files_scanned": len(cands),
                   "files_rewritten": len(touched)}
        if touched:
            base = self._scan_paths(
                [self.storage.absolute(m.path) for m in touched], schema
            )
            # (3) one broadcast left join transforms matched rows in place
            srcb = _bcast(source.withColumn("_ice_m", F.lit(True)))
            # plain equality: SQL MERGE ON semantics — NULL keys never match
            joined = base.alias("t").join(
                srcb.alias("s"),
                on=[F.col(f"t.{k}") == F.col(f"s.{k}") for k in on],
                how="left",
            )
            is_m = F.col("_ice_m").isNotNull()

            def tref(c: str):
                # schema-evolved columns don't exist in the base files yet;
                # unmatched rows read them as NULL, same as a snapshot scan
                if c in base_cols:
                    return F.col(f"t.{c}")
                return F.lit(None).cast(by_name[c])

            if capture_changes and when_matched is not None:
                pre = joined.where(is_m).select(
                    *[tref(c).alias(c) for c in tcols]
                )
                change_parts.append(
                    (pre, "delete" if when_matched == "delete"
                     else "update_preimage")
                )
            if when_matched == "delete":
                out = joined.where(~is_m).select(
                    *[tref(c).alias(c) for c in tcols]
                )
            else:
                sel = []
                for c in tcols:
                    if when_matched == "update" and c in source.columns \
                            and c not in on:
                        sel.append(
                            F.when(is_m, F.col(f"s.{c}"))
                            .otherwise(tref(c)).alias(c)
                        )
                    elif isinstance(when_matched, dict) and c in when_matched:
                        sel.append(
                            F.when(
                                is_m,
                                F.expr(when_matched[c]).cast(by_name[c]),
                            ).otherwise(tref(c)).alias(c)
                        )
                    else:
                        sel.append(tref(c).alias(c))
                out = joined.select(*sel)
                if capture_changes:
                    change_parts.append(
                        (joined.where(is_m).select(*sel), "update_postimage")
                    )
            parts.append(out)

        if when_not_matched == "insert":
            # (4) anti-join to find genuinely-new keys. Against touched-file
            # rows this equals against the whole table (any source key
            # present anywhere lives in a touched file); with
            # when_matched=None no touch pass ran, so anti against the full
            # candidate scan instead. Plain equality (NULL keys insert).
            if when_matched is None and cands:
                rhs = self._scan_paths(
                    [self.storage.absolute(m.path) for m in cands], schema
                )
            elif touched:
                rhs = self._scan_paths(
                    [self.storage.absolute(m.path) for m in touched], schema
                )
            else:
                rhs = None
            ins_src = source
            if rhs is not None:
                ins_src = source.alias("si").join(
                    rhs.select(*on).alias("ti"),
                    on=[F.col(f"si.{k}") == F.col(f"ti.{k}") for k in on],
                    how="left_anti",
                )
            ins = ins_src.select(
                *[
                    F.col(c).alias(c) if c in source.columns
                    else F.lit(None).cast(by_name[c]).alias(c)
                    for c in tcols
                ]
            )
            parts.append(ins)
            if capture_changes:
                change_parts.append((ins, "insert"))

        new_markers: list[FileMarker] = []
        if parts:
            result = parts[0]
            for p in parts[1:]:
                result = result.unionByName(p)
            new_markers = self._write_rewrite(result)
        ts = None
        if capture_changes and change_parts and (new_markers or touched):
            ts = unique_ms()
            self._write_change_set(
                ts,
                change_parts,
                T.StructType(
                    [T.StructField(c, by_name[c], True) for c in tcols]
                ),
            )
        self._commit_dml(
            state, new_markers, touched, commit_schema, tag=commit_tag,
            timestamp_ms=ts,
        )
        summary["files_written"] = len(new_markers)
        return summary


def _parse_bytes_conf(v, default: int = 134217728) -> int:
    """Spark byte-size conf strings come back as '134217728b', '128MB',
    '1g', or a bare number depending on how they were set; fold them all
    to bytes (fallback to ``default`` on anything unparseable)."""
    try:
        s = str(v).strip().lower()
        for suffix, mult in (
            ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
            ("mb", 1 << 20), ("kb", 1 << 10),
            ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
            ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
        ):
            if s.endswith(suffix):
                return int(float(s[: -len(suffix)]) * mult)
        return int(s)
    except (TypeError, ValueError):
        return default


def _strip_scheme(p: str) -> str:
    """Normalize ``file:///x`` / ``/x`` / ``s3://b/x`` to a comparable
    form for matching ``input_file_name()`` against storage-absolute
    paths."""
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if u.scheme in ("", "file"):
        return unquote(u.path) if u.scheme else p
    return f"{u.netloc}{unquote(u.path)}"


def _plan_merge(
    markers: list[FileMarker], max_file_size: int, max_file_count: int
) -> Optional[list[FileMarker]]:
    """The ONE copy of the greedy compaction policy (reference
    icedb/icedb.py:247-259): smallest-first accumulation until the byte or
    count budget, needing >= 2 files to be worth a rewrite. Shared by
    ``merge`` and ``merge_all`` so the policy cannot drift between them."""
    if len(markers) < 2:
        return None
    candidates = sorted(markers, key=lambda m: m.file_bytes)
    acc: list[FileMarker] = []
    acc_bytes = 0
    for m in candidates:
        if len(acc) >= max_file_count or (acc and acc_bytes >= max_file_size):
            break
        acc.append(m)
        acc_bytes += m.file_bytes
    return acc if len(acc) >= 2 else None


def _stats_overlap(
    stats: Optional[dict], ranges: dict[str, tuple]
) -> bool:
    """True when the file MAY contain a row with every ``col BETWEEN lo AND
    hi``. Errs on keep: missing stats, open bounds, or incomparable types
    (e.g. a datetime bound against stored ISO strings) never skip a file —
    zone-map pruning must only ever remove provably-disjoint files."""
    for col, cond in ranges.items():
        if not (isinstance(cond, tuple) and len(cond) == 2):
            raise ValueError(
                f"column_ranges[{col!r}] must be a (lo, hi) tuple; "
                f"use None for an open side"
            )
        entry = (stats or {}).get(col)
        # tolerate non-range entries (e.g. the reserved ~bloom map, or a
        # future stats extension) — only a [min, max] pair can prune
        if not (isinstance(entry, (list, tuple)) and len(entry) == 2):
            continue
        lo, hi = cond
        mn, mx = entry
        try:
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except TypeError:
            continue
    return True


def _match_partition(
    values: dict[str, str],
    predicate: dict[str, Union[str, tuple, set, list]],
) -> bool:
    for k, cond in predicate.items():
        v = values.get(k)
        if v is None:
            # a file whose path does not carry the field (written under an
            # earlier partition spec, or custom `_partition` placement) may
            # still hold matching rows — keep it. Same hint-not-filter
            # contract as zone maps: pruning must never change results,
            # only shrink the file list when absence is PROVABLE.
            continue
        if isinstance(cond, tuple):
            # tuples mean RANGE; any other arity is a malformed predicate —
            # raise rather than silently pruning every file
            if len(cond) != 2:
                raise ValueError(
                    f"partition predicate for {k!r}: tuple means (lo, hi) "
                    f"range, got arity {len(cond)}; use a list/set for "
                    f"membership"
                )
            lo, hi = cond
            if (lo is not None and v < lo) or (hi is not None and v > hi):
                return False
        elif isinstance(cond, (set, list)):
            if v not in {str(c) for c in cond}:
                return False
        elif v != str(cond):
            return False
    return True
