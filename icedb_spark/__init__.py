"""icedb_spark — a PySpark-native lakehouse engine.

An append-only JSONL MVCC metadata log (snapshot isolation, time travel,
atomic single-object commits) over plain Parquet files, with every data
operation (insert, merge/compaction, rewrite, partition drop) expressed as a
declarative Spark job — plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Semantics follow the reference system at /root/reference (danthegoodman1/icedb);
the execution engine is entirely Spark-first.
"""

from .log import (
    FileMarker,
    IceLogIO,
    LogMetadata,
    LogState,
    LogTombstone,
    MemoryStorage,
    Schema,
    SchemaConflictException,
    Storage,
    get_log_file_info,
    now_ms,
    partition_from_path,
    storage_for,
)
from .mv import DoubleWriter, IncrementalView
from .quality import ConstraintViolation, split_valid, violation_counts
from .rest import IceRestServer, RowBatcher
from .session import get_spark
from .catalog import IceCatalog
from .txn import CatalogTransaction, TxnVisibility
from .datasource import IceDataSource
from .locks import (
    Lease,
    LockLostError,
    file_lock_provider,
    s3_lock_provider,
)
from .table import IceTable, PartitionField, PartitionSpec, parse_partition

__all__ = [
    "DoubleWriter",
    "IncrementalView",
    "ConstraintViolation",
    "split_valid",
    "violation_counts",
    "FileMarker",
    "get_spark",
    "IceLogIO",
    "IceCatalog",
    "CatalogTransaction",
    "TxnVisibility",
    "IceRestServer",
    "RowBatcher",
    "IceDataSource",
    "IceTable",
    "LogMetadata",
    "LogState",
    "LogTombstone",
    "PartitionField",
    "PartitionSpec",
    "MemoryStorage",
    "Schema",
    "SchemaConflictException",
    "Storage",
    "get_log_file_info",
    "storage_for",
    "now_ms",
    "parse_partition",
    "partition_from_path",
    "Lease",
    "LockLostError",
    "file_lock_provider",
    "s3_lock_provider",
]

__version__ = "0.1.0"
