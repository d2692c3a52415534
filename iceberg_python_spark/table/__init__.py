"""Table, Transaction, and DataScan — the user-facing surface.

Reference parity map:
- ``Table``                  — pyiceberg/table/__init__.py:1147
- ``Table.scan``             — :1221-1271 (immutable builder)
- ``DataScan.plan_files``    — :2286, planner core :2622-2667
- ``DataScan.count``         — :2341-2366 (metadata fast path)
- ``Transaction.append``     — :460-539
- ``Transaction.overwrite``  — :606-701
- ``Transaction.delete``     — :703-798 (+ update/snapshot.py:409 _compute_deletes)
- ``dynamic_partition_overwrite`` — :541-604
- ``Transaction.upsert``     — :800-948 (+ upsert_util.py)
- ``Transaction.add_files``  — :972-1007
- ``StaticTable``            — :1782-1826
- ``IncrementalAppendScan``  — :2372-2554

Execution differences (Spark-first, SURVEY.md §7): planning stays
driver-side over parquet manifests; the data plane is DataFrames —
``spark.read.schema(...).parquet(*pruned_files)`` with per-schema-group
field-ID alignment, residual/filters as Catalyst predicates (pushed to
parquet), joins for upsert chosen by Catalyst/AQE.
"""

from __future__ import annotations

import copy
import json
import os
import posixpath
import random
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, replace as _dc_replace
from functools import cached_property
from typing import Any, Callable, Dict, Iterable, List, Mapping, Optional, Sequence, Set, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..expressions import (
    AlwaysFalse,
    AlwaysTrue,
    And,
    BooleanExpression,
    BoundPredicate,
    In,
    Not,
    Or,
    bind,
)
from ..expressions.parser import parse as parse_filter
from ..expressions.visitors import (
    expression_evaluator,
    inclusive_metrics_evaluator,
    manifest_evaluator,
    residual as compute_residual,
    strict_metrics_evaluator,
    to_spark_column,
)
from ..io.write import coerce_to_table_schema, write_data_files
from ..partitioning import PartitionSpec
from ..schema import Schema
from ..types import to_spark_type
from .manifests import (
    CONTENT_DATA,
    STATUS_ADDED,
    STATUS_DELETED,
    STATUS_EXISTING,
    read_manifest,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from .metadata import MAIN_BRANCH, SnapshotRef, SortOrder, TableMetadata, new_table_metadata
from .snapshots import Operation, Snapshot, SnapshotLogEntry, build_summary, partition_summary_properties


def _strip_uri_scheme(p: str) -> str:
    """Canonicalize a file path for identity comparison across the two
    forms Spark surfaces: `_metadata.file_path` URIs (file:/a, file:///a)
    vs the plain paths manifests store."""
    if p.startswith("file:"):
        rest = p[5:]
        if rest.startswith("///"):
            return rest[2:]
        if rest.startswith("//"):
            return rest[1:]
        return rest
    return p


def _orphan_path_key(c: Column) -> Column:
    """Scheme- AND authority-stripped join key for orphan-file
    matching: ``file:///x``, ``file:/x`` and ``/x`` compare equal, and
    an equivalent-but-different authority (``hdfs://nn-alias/p`` vs
    ``hdfs://nn:8020/p``) cannot classify a referenced file as an
    orphan (ADVICE r14 #5 — the hazard Iceberg's Spark action guards
    with its prefix-mismatch mode). Key collisions across stores can
    only bias toward KEEPING a file, never deleting a referenced
    one."""
    return F.regexp_replace(
        F.regexp_replace(c, r"^[a-zA-Z0-9+.-]+://[^/]*", ""),
        r"^[a-zA-Z0-9+.-]+:/",
        "/",
    )


class CommitFailedException(Exception):
    """Optimistic-concurrency conflict (reference exceptions.py)."""


@dataclass(frozen=True)
class FileScanTask:
    """One pruned data file + its residual filter + applicable position
    and equality deletes (reference table/__init__.py:2052 FileScanTask,
    delete matching table/delete_file_index.py:105: position deletes
    apply at delete_seq >= data_seq, equality deletes STRICTLY newer,
    delete_seq > data_seq)."""

    data_file: Dict[str, Any]
    residual: BooleanExpression
    delete_files: Tuple[str, ...] = ()
    sequence_number: int = 0
    eq_delete_files: Tuple[Tuple[str, Tuple[int, ...]], ...] = ()
    # on-disk bytes parallel to delete_files / eq_delete_files (from
    # manifest file_size_in_bytes at plan time; -1 = unknown). Drives the
    # size-guarded broadcast decision when deletes are applied.
    delete_sizes: Tuple[int, ...] = ()
    eq_delete_sizes: Tuple[int, ...] = ()
    # schema id each equality-delete file was written under, parallel to
    # eq_delete_files (None = unknown): its key columns are read by the
    # names they had then
    eq_delete_schema_ids: Tuple[Optional[int], ...] = ()

    @property
    def file_path(self) -> str:
        return self.data_file["file_path"]


# Delete-application joins broadcast the delete-rows side only while its
# total on-disk size (known from manifest metadata at plan time) stays
# under this table property. An explicit broadcast() hint OVERRIDES
# spark.sql.autoBroadcastJoinThreshold and Spark's 8 GB broadcast hard
# limit fails the query outright — a heavy-churn CDC table can carry far
# more than 8 GB of (file, pos) delete rows before compaction — so past
# the threshold we emit NO hint and let AQE pick the join strategy from
# observed runtime sizes.
DELETE_BROADCAST_THRESHOLD_PROP = "read.delete.broadcast-bytes-threshold"
DELETE_BROADCAST_THRESHOLD_DEFAULT = 256 * 1024 * 1024


def _delete_broadcast_threshold(metadata) -> int:
    try:
        return int(metadata.properties.get(DELETE_BROADCAST_THRESHOLD_PROP, DELETE_BROADCAST_THRESHOLD_DEFAULT))
    except (AttributeError, TypeError, ValueError):
        return DELETE_BROADCAST_THRESHOLD_DEFAULT


def _maybe_broadcast(df: DataFrame, total_bytes: Optional[int], threshold: int) -> DataFrame:
    """Hint broadcast only when the delete side is provably small;
    unknown size (None / negative) gets no hint (AQE decides)."""
    if total_bytes is not None and 0 <= total_bytes <= threshold:
        return F.broadcast(df)
    return df


def _pos_delete_total_bytes(tasks: Sequence["FileScanTask"]) -> Optional[int]:
    """Total unique position-delete bytes across tasks, or None when any
    task lacks size metadata (delete files are shared between tasks, so
    sizes dedupe by path before summing)."""
    sizes: Dict[str, int] = {}
    for t in tasks:
        if len(t.delete_sizes) != len(t.delete_files):
            return None
        sizes.update(zip(t.delete_files, t.delete_sizes))
    if any(v < 0 for v in sizes.values()):
        return None
    return sum(sizes.values())


def _eq_delete_size_map(tasks: Sequence["FileScanTask"]) -> Optional[Dict[str, int]]:
    """path -> bytes for equality-delete files across tasks (None when
    unknown), for the per-field-set broadcast decision."""
    sizes: Dict[str, int] = {}
    for t in tasks:
        if len(t.eq_delete_sizes) != len(t.eq_delete_files):
            return None
        sizes.update(zip((p for p, _ in t.eq_delete_files), t.eq_delete_sizes))
    if any(v < 0 for v in sizes.values()):
        return None
    return sizes


# reserved field IDs for position-delete files (Iceberg spec)
POS_DELETE_SCHEMA = None  # initialized below (module import order)


def _pos_delete_schema() -> Schema:
    global POS_DELETE_SCHEMA
    if POS_DELETE_SCHEMA is None:
        from ..types import LongType as _Long, NestedField as _NF, StringType as _Str

        POS_DELETE_SCHEMA = Schema(
            _NF(2147483546, "file_path", _Str(), required=True),
            _NF(2147483545, "pos", _Long(), required=True),
        )
    return POS_DELETE_SCHEMA


def _norm_lineage_file(col: Column) -> Column:
    """Scheme-normalize a `_metadata.file_path` URI Spark-side so it
    compares equal to the plain paths manifests store (file:/a and
    file:///a both become /a; other schemes pass through)."""
    return F.when(
        col.startswith("file:"),
        F.concat(F.lit("/"), F.regexp_replace(col, "^file:/*", "")),
    ).otherwise(col)


def _pos_deletes_df(spark, delete_paths) -> DataFrame:
    """All position-delete rows from a mixed set of delete files: parquet
    position deletes and/or v3 deletion-vector Puffin files, unioned to
    one (file_path, pos) DataFrame. Puffin expansion runs on executors
    (binaryFile + mapInPandas, see puffin.dv_positions_df)."""
    puffin_paths = [p for p in delete_paths if p.endswith(".puffin")]
    parquet_paths = [p for p in delete_paths if not p.endswith(".puffin")]
    parts = []
    if parquet_paths:
        parts.append(spark.read.schema(_pos_delete_schema().to_spark()).parquet(*parquet_paths))
    if puffin_paths:
        from .puffin import dv_positions_df

        parts.append(dv_positions_df(spark, puffin_paths))
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    return df


class _DeleteIndex:
    """The live delete files of one snapshot, matched to data files by
    sequence number (reference DeleteFileIndex,
    table/delete_file_index.py:105): a position delete applies when its
    sequence number is >= the data file's, an equality delete only when
    it is strictly greater. Position-delete matching by sequence number
    alone is exact because the anti-join also matches the file path.
    Lookups are cached per data sequence number, so driver CPU is
    O(distinct sequence numbers), not O(data files)."""

    def __init__(self, entries: Iterable[Dict[str, Any]]):
        #: (seq, path, bytes) and (seq, path, equality ids, bytes, schema id)
        self.pos: List[Tuple[int, str, int]] = []
        self.eq: List[Tuple[int, str, Tuple[int, ...], int, Optional[int]]] = []
        for e in entries:
            d = e["data_file"]
            size = d.get("file_size_in_bytes", -1)
            if d.get("content", 0) == 2:
                fids = tuple(d.get("equality_ids") or ())
                self.eq.append((e["sequence_number"], d["file_path"], fids, size, d.get("schema_id")))
            elif d.get("content", 0) == 1:
                self.pos.append((e["sequence_number"], d["file_path"], size))
        self._by_seq: Dict[int, Dict[str, Tuple]] = {}

    def task(self, data_file: Dict[str, Any], residual: BooleanExpression, seq: int) -> FileScanTask:
        deletes = self._by_seq.get(seq)
        if deletes is None:
            pos = [(path, size) for dseq, path, size in self.pos if dseq >= seq]
            eq = [e[1:] for e in self.eq if e[0] > seq]
            deletes = self._by_seq[seq] = {
                "delete_files": tuple(p for p, _ in pos),
                "delete_sizes": tuple(s for _, s in pos),
                "eq_delete_files": tuple((path, fids) for path, fids, _, _ in eq),
                "eq_delete_sizes": tuple(size for _, _, size, _ in eq),
                "eq_delete_schema_ids": tuple(sid for _, _, _, sid in eq),
            }
        return FileScanTask(data_file, residual, sequence_number=seq, **deletes)


@dataclass
class UpsertResult:
    rows_updated: int
    rows_inserted: int


def _new_snapshot_id() -> int:
    return random.getrandbits(62)


def _avro_codec(meta: "TableMetadata") -> str:
    """Avro block codec for spec-metadata commits, from the reference's
    ``write.avro.compression-codec`` property (default gzip,
    table/__init__.py:160-161) mapped to OCF codec names."""
    raw = meta.properties.get("write.avro.compression-codec", "gzip").lower()
    mapping = {"gzip": "deflate", "uncompressed": "null", "zstd": "zstandard"}
    return mapping.get(raw, raw)


def _metadata_base(meta: "TableMetadata") -> str:
    """write.metadata.path-aware base dir for new engine metadata files
    (reference locations.py:56)."""
    from ..locations import metadata_base_path

    return metadata_base_path(meta.location, meta.properties)


def _metadata_format(meta: "TableMetadata") -> str:
    """Manifest/manifest-list file format for commits:
    ``write.metadata.format`` = parquet (engine-native, Spark-readable,
    distributed-plannable) or avro (the spec's wire format — tables whose
    metadata other Iceberg engines read natively, reference manifest.py).
    The read path dispatches per file on extension, so a table may switch
    formats mid-history."""
    fmt = meta.properties.get("write.metadata.format", "parquet").lower()
    if fmt not in ("parquet", "avro"):
        raise ValueError(f"write.metadata.format must be parquet or avro, got {fmt!r}")
    return fmt


def _eq_delete_keys(
    spark: SparkSession,
    metadata: TableMetadata,
    files: Iterable[Tuple[str, Optional[int]]],
    fids: Tuple[int, ...],
    names: Sequence[str],
    fallback: Schema,
) -> DataFrame:
    """Key rows of equality-delete ``files`` ((path, schema id) pairs) for
    one equality-field set, as columns ``names``. Each file is read under
    the schema it was written with, so a key column renamed or dropped
    since still reads; ``fallback`` stands in for a missing or unknown
    schema id."""
    by_sid: Dict[Optional[int], List[str]] = {}
    for path, sid in files:
        by_sid.setdefault(sid, []).append(path)
    dels = None
    known = {s.schema_id: s for s in metadata.schemas}
    for sid, paths in by_sid.items():
        written = known.get(sid, fallback)
        read_schema = Schema(*[written.find_field(fid) for fid in fids]).to_spark()
        part = spark.read.schema(read_schema).parquet(*sorted(paths)).toDF(*names)
        dels = part if dels is None else dels.unionByName(part)
    return dels


def _apply_equality_deletes(
    spark: SparkSession,
    metadata: TableMetadata,
    df: DataFrame,
    tasks: Sequence[FileScanTask],
    schema: Schema,
    threshold: int = DELETE_BROADCAST_THRESHOLD_DEFAULT,
) -> DataFrame:
    """Drop rows of ``df`` (columns named by ``schema``) matching any
    equality-delete file of ``tasks``: one null-safe anti-join per
    distinct equality-field set (reference read path io/pyarrow.py
    applies these as Arrow filters; Spark-side this is the natural
    left_anti). Keys are matched by field id; a key field ``schema``
    lacks (added after the data was written) reads as NULL. Delete keys
    are deduplicated before the join — CDC streams repeat keys heavily.
    The delete side is broadcast-hinted only while its metadata size
    stays under ``threshold``; past that AQE picks the strategy."""
    sizes = _eq_delete_size_map(tasks)
    by_fids: Dict[Tuple[int, ...], Dict[str, Optional[int]]] = {}
    for t in tasks:
        sids = t.eq_delete_schema_ids or (None,) * len(t.eq_delete_files)
        for (path, fids), sid in zip(t.eq_delete_files, sids):
            if fids:
                by_fids.setdefault(tuple(fids), {})[path] = sid
    for fids, files in sorted(by_fids.items()):
        names = [f"_ips_eq_{fid}" for fid in fids]
        dels = _eq_delete_keys(spark, metadata, files.items(), fids, names, schema).dropDuplicates(names)
        cond = None
        for fid, c in zip(fids, names):
            try:
                key = df[schema.find_field(fid).name]
            except ValueError:
                key = F.lit(None)
            clause = key.eqNullSafe(dels[c])
            cond = clause if cond is None else cond & clause
        total = sum(sizes[p] for p in files) if sizes is not None and all(p in sizes for p in files) else None
        df = df.join(_maybe_broadcast(dels, total, threshold), cond, "left_anti")
    return df


#: session-scoped read-plan cache: iceberg data files are immutable
#: (a committed file is never modified in place; new data = new paths),
#: so an identical (session, schema, format, path list) read is the
#: same lazy DataFrame — reusing it skips Spark's driver-side file
#: listing / InMemoryFileIndex rebuild, the dominant fixed cost of
#: sub-second scans. Keyed by applicationId so a restarted session
#: never sees another session's plans; LRU-bounded (plans are lazy and
#: small, the bound is hygiene).
_READ_PLAN_CACHE: "OrderedDict[Tuple, DataFrame]" = OrderedDict()
_READ_PLAN_CACHE_MAX = 256
#: guards the OrderedDict against concurrent mutation — scans may now
#: run on overlapped driver threads (the combined registry rows build
#: their independent sub-frames concurrently), and an unguarded
#: move_to_end racing a popitem would KeyError
_READ_PLAN_CACHE_LOCK = threading.Lock()


def _read_paths(spark: SparkSession, spark_schema, fmt: str, paths: List[str]) -> DataFrame:
    """Format-aware file read (PARQUET | ORC — reference manifest.py:114)."""
    try:
        key = (
            spark.sparkContext.applicationId,
            spark_schema.json(),
            fmt.upper(),
            tuple(paths),
        )
    except Exception:
        key = None
    if key is not None:
        with _READ_PLAN_CACHE_LOCK:
            base = _READ_PLAN_CACHE.get(key)
            if base is not None:
                _READ_PLAN_CACHE.move_to_end(key)
        if base is not None:
            # hand out a fresh-exprId clone, never the cached object itself:
            # two scans of one table must not share attribute ids or
            # downstream expression joins (upsert, MERGE, as-of) hit
            # AMBIGUOUS_SELF_JOIN — toDF re-aliases every column (metadata
            # pseudo-columns still resolve through the Project)
            return base.toDF(*base.columns)
    reader = spark.read.schema(spark_schema)
    if fmt.upper() == "ORC":
        # DataFrameReader.orc takes ONE path-or-list arg (unlike
        # parquet's *paths); splatting shifts paths into keyword slots
        df = reader.orc(list(paths))
    else:
        df = reader.parquet(*paths)
    if key is not None:
        with _READ_PLAN_CACHE_LOCK:
            _READ_PLAN_CACHE[key] = df
            if len(_READ_PLAN_CACHE) > _READ_PLAN_CACHE_MAX:
                _READ_PLAN_CACHE.popitem(last=False)
    return df


def _read_data(
    spark: SparkSession,
    file_schema: Schema,
    fmt: str,
    paths: List[str],
    extra_spark_fields: Sequence["T.StructField"] = (),
) -> DataFrame:
    """Data-file read honoring v3 read semantics:

    - ``timestamp_ns``/``timestamptz_ns`` columns are stored as parquet
      TIMESTAMP(NANOS), which Spark cannot read natively: they're read
      as raw ns longs (``spark.sql.legacy.parquet.nanosAsLong``) and
      downcast to µs timestamps JVM-side — the same µs-downcast read
      the reference applies (io/pyarrow.py:1652-1657). Sub-µs precision
      is truncated, matching the reference.
    - ``unknown`` columns store no data and are never read;
      ``_align_to_schema`` projects NULL for them."""
    from ..types import TimestampNanoType, TimestamptzNanoType, UnknownType

    readable_fields = [f for f in file_schema.fields if not isinstance(f.field_type, UnknownType)]
    if len(readable_fields) != len(file_schema.fields):
        file_schema = Schema(*readable_fields, schema_id=file_schema.schema_id)
    from pyspark.sql import types as T

    ns_fields = {
        f.name: f.field_type
        for f in file_schema.fields
        if isinstance(f.field_type, (TimestampNanoType, TimestamptzNanoType))
    }
    if not ns_fields:
        base = file_schema.to_spark()
        if extra_spark_fields:
            # optional physical columns (e.g. materialized v3 _row_id);
            # files lacking them read as NULL
            base = T.StructType(list(base.fields) + list(extra_spark_fields))
        return _read_paths(spark, base, fmt, paths)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = file_schema.to_spark()
    patched = T.StructType(
        [
            T.StructField(f.name, T.LongType(), f.nullable, f.metadata) if f.name in ns_fields else f
            for f in base.fields
        ]
        + list(extra_spark_fields)
    )
    df = _read_paths(spark, patched, fmt, paths)
    for name, t in ns_fields.items():
        # integer div — float division rounds at 2^53 and shifts
        # ns-precision timestamps by 1µs
        us = F.timestamp_micros(F.expr(f"`{name}` div 1000"))
        if isinstance(t, TimestampNanoType):
            us = us.cast("timestamp_ntz")
        df = df.withColumn(name, us)
    return df


def _read_tasks(
    spark: SparkSession,
    metadata: TableMetadata,
    tasks: Sequence[FileScanTask],
    target: Schema,
    lineage: bool = False,
    row_ids: bool = False,
) -> DataFrame:
    """The one task reader: every scan, count, incremental scan and
    rewrite turns FileScanTasks into rows here (reference ArrowScan /
    _task_to_record_batches, io/pyarrow.py).

    Tasks are grouped by (file schema id, format, name map, applicable
    equality deletes). Each group is read under its commit-time schema
    (name-mapped files under their physical column names), position
    deletes are anti-joined on (_metadata.file_path, row_index),
    equality deletes on the key columns matched by field id, and the
    group is projected onto ``target`` by field id (renames, promotions,
    added columns — reference ArrowProjectionVisitor io/pyarrow.py:1931).
    Equality deletes are part of the group key because they apply to a
    file only when strictly newer; the position-delete anti-join is exact
    under any grouping (file paths are disjoint).

    - ``lineage`` keeps ``_ips_file``/``_ips_pos``: the physical file URI
      and row position, captured on the scan relation because the
      ``_metadata`` pseudo-column is not resolvable after a union.
      ``_metadata.row_index`` is parquet-only in Spark: other formats get
      a NULL position, and position deletes over them raise.
    - ``row_ids`` adds the v3 ``_row_id`` (a materialized id wins, else
      the file's first_row_id + position: spec row-lineage inheritance)
      and ``_last_updated_sequence_number`` (the file's data sequence
      number)."""
    from pyspark.sql import types as T

    lineage_cols = ["_ips_file", "_ips_pos"] if lineage else []
    row_id_cols = ["_row_id", "_last_updated_sequence_number"] if row_ids else []
    if not tasks:
        extra = [
            T.StructField(c, T.StringType() if c == "_ips_file" else T.LongType())
            for c in row_id_cols + lineage_cols
        ]
        return spark.createDataFrame([], T.StructType(target.to_spark().fields + extra))
    groups: Dict[Tuple, List[FileScanTask]] = {}
    for t in tasks:
        key = (
            t.data_file.get("schema_id", target.schema_id),
            t.data_file.get("file_format", "PARQUET").upper(),
            tuple(sorted((t.data_file.get("name_map") or {}).items())),
            t.eq_delete_files,
        )
        groups.setdefault(key, []).append(t)
    threshold = _delete_broadcast_threshold(metadata)
    keep_pos = lineage or row_ids
    dfs = []
    for (schema_id, fmt, name_map, eq_set), group in groups.items():
        file_schema = metadata.schema_by_id(schema_id)
        if name_map:
            renames = dict(name_map)
            file_schema = Schema(
                *[_dc_replace(f, name=renames.get(f.field_id, f.name)) for f in file_schema.fields],
                schema_id=file_schema.schema_id,
            )
        df = _read_data(
            spark,
            file_schema,
            fmt,
            [t.file_path for t in group],
            # materialized v3 ids (rewrites preserve them); NULL where absent
            extra_spark_fields=[T.StructField("_row_id", T.LongType())] if row_ids else (),
        )
        delete_paths = sorted({p for t in group for p in t.delete_files})
        if delete_paths or keep_pos:
            if fmt == "PARQUET":
                pos = F.col("_metadata.row_index")
            elif delete_paths:
                raise NotImplementedError(
                    f"position deletes over {fmt} data files need per-row positions, "
                    "which Spark's reader only exposes for parquet (_metadata.row_index)"
                )
            else:
                pos = F.lit(None).cast("long")
            df = df.withColumn("_ips_file", F.col("_metadata.file_path")).withColumn("_ips_pos", pos)
        if delete_paths:
            # broadcast-hinted only under the metadata size threshold
            dels = _pos_deletes_df(spark, delete_paths)
            df = df.join(
                _maybe_broadcast(dels, _pos_delete_total_bytes(group), threshold),
                (F.col("_ips_file") == dels.file_path) & (F.col("_ips_pos") == dels.pos),
                "left_anti",
            )
        if eq_set:
            df = _apply_equality_deletes(spark, metadata, df, group, file_schema, threshold=threshold)
        passthrough = (["_row_id"] if row_ids else []) + (["_ips_file", "_ips_pos"] if keep_pos else [])
        dfs.append(_align_to_schema(df, file_schema, target, passthrough=passthrough))
    out = dfs[0]
    for extra_df in dfs[1:]:
        out = out.unionByName(extra_df)
    if row_ids:
        # per-file lineage bases broadcast-join on the scheme-normalized path
        lmap = spark.createDataFrame(
            [(_strip_uri_scheme(t.file_path), t.data_file.get("first_row_id"), t.sequence_number) for t in tasks],
            "lfile: string, lfirst: long, lseq: long",
        )
        out = out.join(F.broadcast(lmap), _norm_lineage_file(F.col("_ips_file")) == F.col("lfile"), "left")
        out = out.select(
            *target.column_names,
            F.coalesce(F.col("_row_id"), F.col("lfirst") + F.col("_ips_pos")).alias("_row_id"),
            F.col("lseq").alias("_last_updated_sequence_number"),
            *lineage_cols,
        )
    return out


class Table:
    def __init__(self, identifier: Tuple[str, ...], metadata: TableMetadata, metadata_location: str, catalog, spark: SparkSession):
        self.identifier = identifier
        self.metadata = metadata
        self.metadata_location = metadata_location
        self.catalog = catalog
        self.spark = spark
        # per-table IO config a catalog may vend (REST storage
        # credentials / LoadTableResponse config); empty elsewhere
        self.io_properties: Dict[str, str] = {}

    # s3.* vended-credential keys -> hadoop s3a option suffixes
    _S3A_KEYS = {
        "s3.access-key-id": "access.key",
        "s3.secret-access-key": "secret.key",
        "s3.session-token": "session.token",
        "s3.endpoint": "endpoint",
        "s3.path-style-access": "path.style.access",
    }

    def apply_storage_credentials(self) -> Dict[str, str]:
        """Install this table's vended credentials into the Spark session
        as PER-BUCKET ``fs.s3a.bucket.<bucket>.*`` settings, so executor
        data-plane IO on this table's bucket uses the vended token while
        every other bucket keeps the cluster's own credential chain
        (hadoop-aws per-bucket configuration — the standard way to scope
        short-lived table credentials on a shared cluster). Returns the
        applied {hadoop-key: value} map. No-op without s3 credentials or
        for non-s3 locations."""
        loc = self.location
        if not self.io_properties or "://" not in loc:
            return {}
        scheme, rest = loc.split("://", 1)
        if scheme not in ("s3", "s3a", "s3n"):
            return {}
        bucket = rest.split("/", 1)[0]
        conf = self.spark._jsc.hadoopConfiguration()
        applied = {}
        for prop, suffix in self._S3A_KEYS.items():
            if prop in self.io_properties:
                key = f"fs.s3a.bucket.{bucket}.{suffix}"
                conf.set(key, self.io_properties[prop])
                applied[key] = self.io_properties[prop]
        return applied

    # -- metadata accessors -------------------------------------------------
    @property
    def name(self) -> str:
        return ".".join(self.identifier)

    @property
    def location(self) -> str:
        return self.metadata.location

    @property
    def properties(self) -> Dict[str, str]:
        return self.metadata.properties

    def schema(self) -> Schema:
        return self.metadata.schema()

    def spec(self) -> PartitionSpec:
        return self.metadata.spec()

    def sort_order(self) -> SortOrder:
        return self.metadata.sort_order()

    # -- versioned-surface accessors (reference table/__init__.py:1240-1290) --
    def schemas(self) -> Dict[int, Schema]:
        return {s.schema_id: s for s in self.metadata.schemas}

    def specs(self) -> Dict[int, PartitionSpec]:
        return {s.spec_id: s for s in self.metadata.partition_specs}

    def sort_orders(self) -> Dict[int, SortOrder]:
        return {o.order_id: o for o in self.metadata.sort_orders}

    @property
    def format_version(self) -> int:
        return self.metadata.format_version

    @property
    def last_partition_id(self) -> int:
        return self.metadata.last_partition_id

    @property
    def last_sequence_number(self) -> int:
        return self.metadata.last_sequence_number

    def name_mapping(self):
        """Parsed ``schema.name-mapping.default`` property, or None
        (reference table/__init__.py name_mapping)."""
        from ..name_mapping import PROPERTY_KEY, NameMapping

        raw = self.metadata.properties.get(PROPERTY_KEY)
        return NameMapping.from_json(raw) if raw else None

    def location_provider(self):
        from ..locations import load_location_provider

        return load_location_provider(self.metadata.location, self.metadata.properties)

    def snapshots(self) -> List[Snapshot]:
        return self.metadata.snapshots

    def current_snapshot(self) -> Optional[Snapshot]:
        return self.metadata.current_snapshot()

    def snapshot_by_id(self, snapshot_id: int) -> Optional[Snapshot]:
        return self.metadata.snapshot_by_id(snapshot_id)

    def snapshot_by_name(self, name: str) -> Optional[Snapshot]:
        return self.metadata.snapshot_by_name(name)

    def snapshot_as_of_timestamp(self, timestamp_ms: int) -> Optional[Snapshot]:
        return self.metadata.snapshot_as_of_timestamp(timestamp_ms)

    def history(self) -> List[SnapshotLogEntry]:
        return self.metadata.snapshot_log

    def refs(self) -> Dict[str, SnapshotRef]:
        return self.metadata.refs

    @property
    def inspect(self):
        from .inspect import InspectTable

        return InspectTable(self)

    def refresh(self) -> "Table":
        fresh = self.catalog.load_table(self.identifier)
        self.metadata = fresh.metadata
        self.metadata_location = fresh.metadata_location
        return self

    # -- scan ----------------------------------------------------------------
    def scan(
        self,
        row_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        selected_fields: Tuple[str, ...] = ("*",),
        case_sensitive: bool = True,
        snapshot_id: Optional[int] = None,
        limit: Optional[int] = None,
        use_ref: Optional[str] = None,
    ) -> "DataScan":
        return DataScan(self, row_filter, selected_fields, case_sensitive, snapshot_id, limit, use_ref)

    def incremental_append_scan(
        self,
        from_snapshot_id_exclusive: Optional[int] = None,
        to_snapshot_id_inclusive: Optional[int] = None,
        row_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        selected_fields: Tuple[str, ...] = ("*",),
    ) -> "IncrementalAppendScan":
        return IncrementalAppendScan(self, from_snapshot_id_exclusive, to_snapshot_id_inclusive, row_filter, selected_fields)

    def incremental_changelog_scan(
        self,
        from_snapshot_id_exclusive: Optional[int] = None,
        to_snapshot_id_inclusive: Optional[int] = None,
        selected_fields: Tuple[str, ...] = ("*",),
    ) -> "IncrementalChangelogScan":
        return IncrementalChangelogScan(self, from_snapshot_id_exclusive, to_snapshot_id_inclusive, selected_fields)

    def to_df(self) -> DataFrame:
        return self.scan().to_df()

    def to_pandas(self):
        return self.to_df().toPandas()

    def to_arrow(self):
        return self.to_df().toArrow()

    def to_duckdb(self, table_name: str, connection=None):
        import duckdb

        con = connection or duckdb.connect()
        arrow_table = self.to_arrow()  # noqa: F841 — registered by name below
        con.register(table_name, arrow_table)
        return con

    def column_ndv(
        self, snapshot_id: Optional[int] = None, current_snapshot_only: bool = False
    ) -> Dict[str, int]:
        """Per-column NDV from the registered statistics files: the
        theta blobs' ``ndv`` property (the Iceberg convention the
        reference also writes, update/statistics.py) straight from the
        ``blob-metadata`` kept in the table metadata — no file IO;
        falls back to decoding the Puffin theta sketch when a foreign
        writer omitted the property. Returns {column_name: ndv}."""
        snap = (
            self.snapshot_by_id(snapshot_id) if snapshot_id else self.current_snapshot()
        )
        stats = self.metadata.statistics
        entry = None
        if snap is not None:
            entry = next((s for s in stats if s.get("snapshot-id") == snap.snapshot_id), None)
        if entry is None and stats and not current_snapshot_only:
            # inspection convenience only — planning callers pass
            # current_snapshot_only=True so a stale entry never drives
            # a broadcast decision (ADVICE r10)
            entry = stats[-1]
        if entry is None:
            return {}
        from .puffin import BLOB_TYPE_THETA

        schema = self.metadata.schema()
        out: Dict[str, int] = {}
        for b in entry.get("blob-metadata", []):
            if b.get("type") != BLOB_TYPE_THETA or not b.get("fields"):
                continue
            col = schema.find_column_name(b["fields"][0])
            if col is None:
                continue  # stats for a since-dropped column
            ndv = (b.get("properties") or {}).get("ndv")
            if ndv is None:
                try:
                    from ..io import fileio
                    from .puffin import PuffinFile, theta_sketch_estimate

                    pf = PuffinFile(fileio.read_bytes(entry["statistics-path"]))
                    blob = next(bb for bb in pf.blobs if bb.offset == b.get("offset"))
                    ndv = theta_sketch_estimate(pf.blob_payload(blob))
                except Exception:
                    continue
            out[col] = int(float(ndv))
        return out

    def broadcast_size_estimate(self) -> Optional[int]:
        """Join-side size estimate in bytes, gated on NDV statistics —
        the planning consumer of the Puffin theta blobs (VERDICT r09
        #8). Returns None when the table has no NDV statistics: only
        tables someone bothered to ANALYZE get hinted (dimension
        tables, in practice). Rows come from the snapshot summary's
        total-records when present, else from an IDENTIFIER-field NDV
        (for a dimension keyed by its identifier, NDV(key) == row
        count — the fallback for imported/foreign tables whose
        summaries lack totals). A non-identifier column's NDV is never
        a row-count proxy: where only a low-cardinality column was
        analyzed it undercounts by orders of magnitude and an
        auto-broadcast would OOM executors (ADVICE r10) — no
        authoritative row count, no estimate. The stats entry must
        also belong to the CURRENT snapshot (an older snapshot's NDVs
        say nothing about today's row count); bytes-per-row from the
        summary's total-files-size, else a schema width heuristic."""
        snap = self.current_snapshot()
        if snap is None:
            return None
        ndvs = self.column_ndv(current_snapshot_only=True)
        if not ndvs:
            return None
        rows = None
        avg = None
        tr = snap.summary.get("total-records")
        tfs = snap.summary.get("total-files-size")
        if tr is not None and int(tr) >= 0:
            rows = int(tr)
        if tfs is not None and rows:
            avg = max(1, int(tfs) // rows)
        if rows is None:
            schema = self.metadata.schema()
            ident_names = {
                schema.find_column_name(fid)
                for fid in (getattr(schema, "identifier_field_ids", None) or [])
            }
            ident_ndvs = [v for k, v in ndvs.items() if k in ident_names]
            if not ident_ndvs:
                return None
            rows = max(ident_ndvs)
        if avg is None:
            # schema heuristic: fixed widths + 32B strings/binaries
            widths = {"int": 4, "long": 8, "float": 4, "double": 8, "boolean": 1, "date": 4}
            avg = sum(
                widths.get(str(f.field_type), 32) for f in self.metadata.schema().fields
            )
        return rows * avg

    def create_or_replace_temp_view(
        self, name: Optional[str] = None, auto_broadcast: bool = True
    ) -> str:
        """Register the table's current state as a Spark temp view so
        ``spark.sql`` can query it — the Spark-native analog of the
        reference's ``scan().to_duckdb(name)`` (table/__init__.py:1695):
        where PyIceberg materializes Arrow into an embedded engine, we
        hand Spark SQL the LAZY scan DataFrame, so filters/projections
        in the SQL still push down into the parquet scan and nothing
        materializes until the query runs. Default view name:
        ``ns_table`` (dots are invalid in Spark temp-view names).

        ``auto_broadcast``: when the table carries NDV statistics whose
        size estimate fits ``read.sql.broadcast-threshold-bytes``
        (default 10 MB), the view is registered over ``broadcast(df)``
        so joins in subsequent SQL pick a broadcast-hash plan even
        where Spark's own size stats are absent or disabled (Python
        DataSource reads, unions, disabled autoBroadcastJoinThreshold).
        The stored NDV is what authorizes the hint — no stats, no
        hint."""
        name = name or "_".join(self.identifier)
        df = self.scan().to_df()
        if auto_broadcast:
            try:
                threshold = int(
                    self.metadata.properties.get("read.sql.broadcast-threshold-bytes", "10485760")
                )
                est = self.broadcast_size_estimate()
            except Exception:
                est = None
                threshold = 0
            if est is not None and 0 < est <= threshold:
                df = F.broadcast(df)
        df.createOrReplaceTempView(name)
        return name

    # -- writes ----------------------------------------------------------------
    def transaction(self, branch: Optional[str] = None) -> "Transaction":
        return Transaction(self, branch or MAIN_BRANCH)

    def append(
        self,
        df: DataFrame,
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.append(df, snapshot_properties)

    def overwrite(
        self,
        df: DataFrame,
        overwrite_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.overwrite(df, overwrite_filter, snapshot_properties)

    def delete(
        self,
        delete_filter: Union[str, BooleanExpression],
        snapshot_properties: Optional[Dict[str, str]] = None,
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.delete(delete_filter, snapshot_properties, mode=mode)

    def compact(
        self,
        snapshot_properties: Optional[Dict[str, str]] = None,
        target_file_size_bytes: Optional[int] = None,
        min_input_files: int = 2,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.compact(snapshot_properties, target_file_size_bytes, min_input_files)

    def add_equality_deletes(
        self,
        keys_df: DataFrame,
        equality_fields: Sequence[str],
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.add_equality_deletes(keys_df, equality_fields, snapshot_properties)

    def rewrite_zorder(
        self,
        cols: List[str],
        bits: int = 16,
        target_file_size_bytes: Optional[int] = None,
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.rewrite_zorder(cols, bits, target_file_size_bytes, snapshot_properties)

    def dynamic_partition_overwrite(
        self,
        df: DataFrame,
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.dynamic_partition_overwrite(df, snapshot_properties)

    def upsert(
        self,
        df: DataFrame,
        join_cols: Optional[List[str]] = None,
        when_matched_update_all: bool = True,
        when_not_matched_insert_all: bool = True,
        mode: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> UpsertResult:
        with self.transaction(branch) as tx:
            return tx.upsert(df, join_cols, when_matched_update_all, when_not_matched_insert_all, mode=mode)

    def add_files(
        self,
        file_paths: List[str],
        snapshot_properties: Optional[Dict[str, str]] = None,
        branch: Optional[str] = None,
    ) -> None:
        with self.transaction(branch) as tx:
            tx.add_files(file_paths, snapshot_properties)

    def register_data_files(
        self, data_files: List[Dict[str, Any]], snapshot_properties: Optional[Dict[str, str]] = None
    ) -> None:
        with self.transaction() as tx:
            tx.register_data_files(data_files, snapshot_properties)

    def rewrite_manifests(self, target_entries: Optional[int] = None) -> int:
        with self.transaction() as tx:
            return tx.rewrite_manifests(target_entries)

    def set_properties(self, properties: Optional[Dict[str, str]] = None, **kwargs: str) -> None:
        with self.transaction() as tx:
            tx.set_properties(properties, **kwargs)

    def upgrade_format_version(self, version: int) -> None:
        """Upgrade the table's spec version (reference
        UpgradeFormatVersionUpdate, table/update/__init__.py:90;
        downgrades rejected). v3 initializes row-lineage next-row-id —
        existing rows inherit ids from each file's base on first
        assignment-bearing commit."""
        cur = self.metadata.format_version
        if version < cur:
            raise ValueError(f"cannot downgrade format version {cur} -> {version}")
        if version == cur:
            return
        if version not in (2, 3):
            raise ValueError(f"unsupported format version {version}")
        meta = copy.deepcopy(self.metadata)
        meta.format_version = version
        if version >= 3 and meta.next_row_id is None:
            # existing data files have no first-row-id; start the counter
            # past the current row count so future assignment never
            # collides with ids later backfilled for old files
            total = sum(
                e["data_file"].get("record_count", 0)
                for e in self._live_entries(meta.current_snapshot())
                if e["data_file"].get("content", 0) == 0
            )
            meta.next_row_id = total
        meta.last_updated_ms = int(time.time() * 1000)
        self.catalog._commit_table(self, meta)

    def remove_properties(self, *removals: str) -> None:
        with self.transaction() as tx:
            tx.remove_properties(*removals)

    def manage_snapshots(self) -> "ManageSnapshots":
        from .update import ManageSnapshots

        return ManageSnapshots(self)

    def update_schema(self, case_sensitive: bool = True) -> "UpdateSchema":
        from .update import UpdateSchema

        return UpdateSchema(self, case_sensitive=case_sensitive)

    def update_spec(self) -> "UpdateSpec":
        from .update import UpdateSpec

        return UpdateSpec(self)

    def expire_snapshots(self) -> "ExpireSnapshots":
        from .update import ExpireSnapshots

        return ExpireSnapshots(self)

    def clean_scan_plans(self, max_age_hours: Optional[float] = None, now_ms: Optional[int] = None) -> List[str]:
        """Sweep transient scan-plan path manifests (written by the
        streaming distributed read under ``metadata/scan-plans/``)
        older than ``max_age_hours`` (default: the
        ``read.plan.max-age-hours`` table property, 24h). Age comes
        from the millisecond-timestamp prefix each plan dir carries in
        its NAME, so no object-store mtime support is needed; the age
        guard keeps in-flight reads safe (a running query holds a plan
        younger than any sane threshold). Lifetime caveat: a LAZY
        streamed DataFrame held longer than the guard can lose its plan
        dir to this sweep — raise the property for long-lived handles.
        Also runs as part of
        ``expire_snapshots().commit(clean_files=True)``. Returns the
        removed plan-dir paths."""
        from ..io import fileio

        if max_age_hours is None:
            max_age_hours = float(self.metadata.properties.get("read.plan.max-age-hours", "24"))
        base = posixpath.join(_metadata_base(self.metadata), "scan-plans")
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        cutoff = now - int(max_age_hours * 3600_000)
        dirs: Set[str] = set()
        for f in fileio.list_files(base, suffix="", spark=self.spark):
            rest = f.split("/scan-plans/", 1)
            if len(rest) == 2 and "/" in rest[1]:
                dirs.add(posixpath.join(base, rest[1].split("/", 1)[0]))
        removed: List[str] = []
        for d in sorted(dirs):
            stamp = d.rsplit("/", 1)[1].split("-", 1)[0]
            if stamp.isdigit() and int(stamp) < cutoff:
                fileio.remove_recursive(d, self.spark)
                removed.append(d)
        return removed

    def remove_orphan_files(
        self,
        older_than_ms: Optional[int] = None,
        dry_run: bool = False,
        now_ms: Optional[int] = None,
    ) -> List[str]:
        """Iceberg's RemoveOrphanFiles maintenance action: delete files
        under the table location that NO snapshot or metadata object
        references — the leftovers of crashed/aborted writes that
        ``expire_snapshots`` (which only walks snapshot lineage) can
        never see. Reference `table/__init__.py:493` names exactly this
        job ("clean up with expire/orphan-file maintenance jobs") and
        leaves it to engines.

        Safety model (the Spark action's): only files older than
        ``older_than_ms`` (default: 3 days, or the
        ``gc.orphan-grace-ms`` table property) are candidates, so
        in-flight writes — files placed but not yet committed — are
        never swept. Files whose store reports NO modification time
        are never candidates either (an unknown mtime must not read
        as "ancient" — ADVICE r14 #1), and the anti-join key strips
        scheme AND authority so a manifest written as
        ``hdfs://nn-alias/p`` protects the listing's
        ``hdfs://nn:8020/p`` (ADVICE r14 #5; key collisions can only
        bias toward KEEPING a file, never deleting a referenced one).
        Scan-plan dirs keep their own age-guarded sweep
        (:meth:`clean_scan_plans`) and are excluded here.

        Spark shape (100 TB): the referenced DATA/DELETE file set is
        ONE ``spark.read.parquet`` over the deduped live-manifest
        paths of ALL snapshots (they share a schema) — the plan stays
        a single scan node at 10³-10⁴ snapshots and shared manifests
        read once, instead of a per-snapshot union whose logical plan
        grows O(snapshots) (VERDICT r14 #7); manifest/metadata/
        statistics paths are O(manifests) driver work. The listing
        side fans out per first-level directory via
        ``spark.parallelize`` so a 10⁷-file warehouse lists in
        parallel, and the orphan set is a LEFT ANTI join of listing
        against references — no O(files) Python set on the driver
        until the (typically tiny) orphan result collects.

        Returns the removed (or, with ``dry_run=True``, would-remove)
        paths."""
        from ..io import fileio

        spark = self.spark
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        if older_than_ms is None:
            older_than_ms = int(
                self.metadata.properties.get("gc.orphan-grace-ms", str(3 * 24 * 3600_000))
            )
        cutoff = now - older_than_ms
        meta = self.metadata

        # referenced: data/delete files from EVERY snapshot (deleted-
        # status entries stay referenced until their manifest expires).
        # ONE read over the deduped live-manifest set — not a
        # per-snapshot union (docstring / VERDICT r14 #7)
        man_paths = sorted(
            {m["manifest_path"] for s in meta.snapshots for m in self._live_manifests(s)}
        )
        # explicit schema: plan build never reads manifest footers —
        # at 10^4 manifests schema inference alone would be a driver
        # bottleneck before the first task runs
        entries_schema = spark.createDataFrame([], self.inspect._entries_schema()).schema
        refs_df = (
            spark.read.schema(entries_schema)
            .parquet(*man_paths)
            .select(F.col("file_path").alias("path"))
            if man_paths
            else None
        )
        # metadata plane: manifest lists, manifests, metadata jsons,
        # statistics blobs — O(manifests) driver-side strings
        small_refs: Set[str] = {self.metadata_location}
        for e in meta.metadata_log:
            p = e.get("metadata-file")
            if p:
                small_refs.add(p)
        for s in meta.snapshots:
            small_refs.add(s.manifest_list)
            for m in self._live_manifests(s):
                small_refs.add(m["manifest_path"])
        for st in list(meta.statistics) + list(meta.partition_statistics):
            p = st.get("statistics-path")
            if p:
                small_refs.add(p)
        small_df = spark.createDataFrame([(p,) for p in sorted(small_refs)], "path: string")
        refs_df = small_df if refs_df is None else refs_df.unionByName(small_df)

        # listing: fan out one task per first-level entry of the table
        # location (data partitions / metadata dir)
        loc = self.location.rstrip("/")
        local_root = fileio.to_local(loc) if not fileio.is_remote(loc) else None
        if local_root is not None and os.path.isdir(local_root):
            tops = sorted(
                posixpath.join(loc, name) for name in os.listdir(local_root)
            )
        else:
            tops = [loc]

        def _list(prefixes):
            import os

            from iceberg_python_spark.io import fileio as _f

            for pfx in prefixes:
                if "/scan-plans" in pfx:
                    continue
                lp = _f.to_local(pfx) if not _f.is_remote(pfx) else None
                if lp is not None and os.path.isfile(lp):
                    yield (pfx, int(os.path.getmtime(lp) * 1000))
                    continue
                # real store mtimes; None when the store reports none —
                # such files are NEVER deletion candidates (ADVICE r14 #1)
                for f, mt in _f.list_files_with_mtime(pfx, spark=None):
                    if "/scan-plans/" in f:
                        continue
                    yield (f, mt)

        listed = spark.sparkContext.parallelize(tops, max(len(tops), 1)).mapPartitions(
            lambda it: _list(list(it))
        )
        listed_df = spark.createDataFrame(listed, "path: string, mtime_ms: long")
        norm = _orphan_path_key
        orphans = (
            listed_df.where(
                F.col("mtime_ms").isNotNull() & (F.col("mtime_ms") < F.lit(cutoff))
            )
            .withColumn("_n", norm(F.col("path")))
            .join(
                refs_df.select(norm(F.col("path")).alias("_n")).distinct(),
                "_n",
                "left_anti",
            )
            .select("path")
        )
        out = sorted(r["path"] for r in orphans.collect())
        if not dry_run:
            for p in out:
                fileio.remove(p, spark)
        return out

    @property
    def maintenance(self) -> "MaintenanceTable":
        """Reference table/maintenance.py:30 MaintenanceTable shape:
        ``table.maintenance.expire_snapshots()``."""
        return MaintenanceTable(self)

    def update_sort_order(self) -> "UpdateSortOrder":
        from .update import UpdateSortOrder

        return UpdateSortOrder(self)

    def update_statistics(self) -> "UpdateStatistics":
        from .update import UpdateStatistics

        return UpdateStatistics(self)

    def to_polars(self):
        """Export via Arrow (reference table/__init__.py:1964); needs the
        polars package (not bundled here)."""
        try:
            import polars  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("polars is not installed in this environment") from e
        return polars.from_arrow(self.to_arrow())

    def to_ray(self):
        """Export to a Ray dataset (reference table/__init__.py:1954)."""
        try:
            import ray  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("ray is not installed in this environment") from e
        return ray.data.from_arrow(self.to_arrow())

    def to_daft(self):
        """Export to a Daft DataFrame (reference table/__init__.py:1705,
        which hands the table to daft.read_iceberg for a lazy scan; our
        engine materializes through Arrow instead — Daft's Iceberg reader
        binds to the reference's table class, not this one)."""
        try:
            import daft  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("daft is not installed in this environment") from e
        return daft.from_arrow(self.to_arrow())

    def to_bodo(self):
        """Export to a Bodo DataFrame (reference table/__init__.py:1715);
        materializes through pandas (Bodo's lazy read_iceberg_table binds
        to the reference's table class, not this one)."""
        try:
            import bodo.pandas as bd
        except ImportError as e:
            raise NotImplementedError("bodo is not installed in this environment") from e
        return bd.from_pandas(self.to_pandas())

    def to_datafusion(self, ctx, name: Optional[str] = None):
        """Register this table's current snapshot in a DataFusion
        SessionContext and return the resulting DataFusion DataFrame
        (reference table/__init__.py:1735 exposes the same engine via
        ``__datafusion_table_provider__``). The data is handed over as
        Arrow record batches — a materializing export like ``to_daft``/
        ``to_bodo``, suitable for metadata-scale and post-filter
        results, not a lazy 100 TB scan.

        On the FFI contract: the reference's ``register_table`` path
        works because DataFusion probes tables for a
        ``__datafusion_table_provider__`` method returning a PyCapsule
        that wraps a Rust FFI TableProvider (with pushdown) — a capsule
        only a native extension can fabricate (the reference gets it
        from its Rust core). This class deliberately does NOT define
        that dunder: defining it as an always-raising method would make
        ``hasattr``-based capability probes report support and then
        fail mid-registration instead of falling back cleanly
        (ADVICE r8) — the conventional "not supported" signal is the
        AttributeError the absent method produces."""
        try:
            import datafusion  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("datafusion is not installed in this environment") from e
        name = name or self.name.replace(".", "_")
        ctx.register_record_batches(name, [self.to_arrow().to_batches()])
        return ctx.table(name)

    # -- plumbing shared with Transaction -------------------------------------
    def _live_manifests(self, snapshot: Optional[Snapshot]) -> List[Dict[str, Any]]:
        if snapshot is None:
            return []
        return read_manifest_list(snapshot.manifest_list, self.metadata.spec_by_id, self.metadata.schema())

    def _live_entries(self, snapshot: Optional[Snapshot]) -> List[Dict[str, Any]]:
        out = []
        for m in self._live_manifests(snapshot):
            spec = self.metadata.spec_by_id(m["spec_id"])
            for e in read_manifest(m["manifest_path"], self.metadata.schema(), spec, manifest=m):
                if e["status"] != STATUS_DELETED:
                    out.append(e)
        return out


class MaintenanceTable:
    """Maintenance entry point (reference table/maintenance.py:30)."""

    def __init__(self, tbl: "Table"):
        self.tbl = tbl

    def expire_snapshots(self) -> "ExpireSnapshots":
        return self.tbl.expire_snapshots()


class Transaction:
    """Groups staged snapshot commits; writes metadata once on exit
    (reference table/__init__.py:216; CAS via the catalog).

    ``branch`` scopes every write to that ref (reference
    table/__init__.py:464 — append/overwrite/delete take ``branch``): the
    write's parent is the branch head, the commit advances only the branch
    ref, and main / the snapshot log are untouched — the WAP
    (write-audit-publish) pattern, published later via
    ``manage_snapshots().set_current_snapshot(ref_name=...)``."""

    def __init__(self, table: Table, branch: str = MAIN_BRANCH):
        self.table = table
        self.metadata = table.metadata  # evolving copy
        self._branch = branch
        if branch != MAIN_BRANCH:
            ref = table.metadata.refs.get(branch)
            if ref is None:
                raise ValueError(
                    f"unknown branch {branch!r} — create it first with "
                    f"manage_snapshots().create_branch(snapshot_id, {branch!r})"
                )
            if ref.type != "branch":
                raise ValueError(f"ref {branch!r} is a tag; writes need a branch")
        self._dirty = False
        # staged-commit log for CAS-retry rebase (reference
        # table/update/validate.py:41-357): what this transaction did, in
        # terms replayable against a refreshed base
        self._base_snapshot_id = self._branch_head_id(table.metadata)
        self._staged: List[Dict[str, Any]] = []
        self._replaying = False
        self._prop_updates: Dict[str, str] = {}
        self._prop_removals: set = set()
        # merged into every snapshot this transaction commits — lets a
        # caller tag multi-op transactions (e.g. the streaming sinks'
        # exactly-once batch markers) without each op taking a
        # snapshot_properties parameter
        self.default_snapshot_properties: Dict[str, str] = {}

    def _branch_head_id(self, meta: TableMetadata) -> Optional[int]:
        if self._branch == MAIN_BRANCH:
            return meta.current_snapshot_id
        ref = meta.refs.get(self._branch)
        return ref.snapshot_id if ref else None

    def _parent(self) -> Optional[Snapshot]:
        """The snapshot this transaction's next write builds on: the
        target branch's head in the evolving txn metadata."""
        head = self._branch_head_id(self.metadata)
        return self.metadata.snapshot_by_id(head) if head is not None else None

    def _scan_ref(self) -> Optional[str]:
        """use_ref for scans that feed writes (None = current/main)."""
        return None if self._branch == MAIN_BRANCH else self._branch

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit_transaction()

    # -- table properties (reference table/__init__.py Transaction
    # set_properties/remove_properties) -----------------------------------------
    # -- transaction-scoped DDL (reference Transaction.update_schema /
    # update_spec / update_sort_order): the builder mutates THIS
    # transaction's evolving metadata on its commit(), so DDL and data
    # ops land in one atomic metadata swap — subsequent writes in the
    # same transaction already see the new schema/spec/order -------------
    def update_schema(self, case_sensitive: bool = True) -> "UpdateSchema":
        from .update import UpdateSchema

        return UpdateSchema(self.table, case_sensitive=case_sensitive, transaction=self)

    def update_spec(self) -> "UpdateSpec":
        from .update import UpdateSpec

        return UpdateSpec(self.table, transaction=self)

    def update_sort_order(self) -> "UpdateSortOrder":
        from .update import UpdateSortOrder

        return UpdateSortOrder(self.table, transaction=self)

    def set_properties(self, properties: Optional[Dict[str, str]] = None, **kwargs: str) -> "Transaction":
        """Set/overwrite table properties. Staged like every other update
        and re-applied after a CAS-retry rebase (last writer wins per
        key, matching the reference's commit semantics)."""
        updates = {**(properties or {}), **kwargs}
        bad = [k for k, v in updates.items() if not isinstance(k, str) or not isinstance(v, str)]
        if bad:
            raise ValueError(f"table properties must be str -> str, got invalid keys {bad}")
        self.metadata = _dc_replace(
            self.metadata, properties={**self.metadata.properties, **updates}
        )
        self._prop_updates.update(updates)
        self._prop_removals -= set(updates)
        self._dirty = True
        return self

    def remove_properties(self, *removals: str) -> "Transaction":
        """Remove table properties (missing keys are ignored, like the
        reference)."""
        self.metadata = _dc_replace(
            self.metadata,
            properties={k: v for k, v in self.metadata.properties.items() if k not in removals},
        )
        self._prop_removals.update(removals)
        for k in removals:
            self._prop_updates.pop(k, None)
        self._dirty = True
        return self

    def _reapply_property_changes(self) -> None:
        if not (self._prop_updates or self._prop_removals):
            return
        props = {k: v for k, v in self.metadata.properties.items() if k not in self._prop_removals}
        props.update(self._prop_updates)
        self.metadata = _dc_replace(self.metadata, properties=props)

    # -- snapshot producers ----------------------------------------------------
    def _spark(self) -> SparkSession:
        return self.table.spark

    def _schema(self) -> Schema:
        return self.metadata.schema()

    def _spec(self) -> PartitionSpec:
        return self.metadata.spec()

    def _sort_columns(self) -> Optional[List[Tuple[str, bool, bool]]]:
        order = self.metadata.sort_order()
        if order.is_unsorted:
            return None
        out = []
        for f in order.fields:
            name = self._schema().find_column_name(f.source_id)
            if name and f.transform == "identity":
                out.append((name, f.direction == "asc", f.null_order == "nulls-first"))
        return out or None

    def _write_files(self, df: DataFrame, extra_columns: Sequence[str] = ()) -> List[Dict[str, Any]]:
        return write_data_files(
            self._spark(),
            df,
            self._schema(),
            self._spec(),
            self.metadata.location,
            commit_uuid=str(uuid.uuid4()),
            properties=self.metadata.properties,
            sort_columns=self._sort_columns(),
            extra_columns=extra_columns,
        )

    def _write_position_deletes(self, tasks: List[FileScanTask], bound: BooleanExpression) -> List[Dict[str, Any]]:
        """Write sorted position-delete parquet for rows matching ``bound``
        in the given tasks' data files, using the reader's (file,
        row_index) lineage. Returns content=1 DataFile dicts."""
        src = _read_tasks(self._spark(), self.metadata, tasks, self._schema(), lineage=True)
        matched = src.where(F.coalesce(to_spark_column(bound), F.lit(False))).select(
            F.col("_ips_file").alias("file_path"), F.col("_ips_pos").alias("pos")
        )
        return self._write_pos_delete_rows(matched)

    def _write_pos_delete_rows(self, matched: DataFrame) -> List[Dict[str, Any]]:
        """Write a (file_path, pos) DataFrame as position-delete files.

        Format resolves from the table property ``write.delete.format``:
        ``parquet`` (default) writes sorted position-delete parquet;
        ``puffin`` writes one v3 deletion-vector Puffin file (roaring
        bitmap per referenced data file, reference
        table/deletion_vector.py:40-93 read-side semantics)."""
        from ..io.write import collect_file_stats, _list_parquet_files

        spark = self._spark()
        schema = self._schema()
        if self.metadata.properties.get("write.delete.format", "parquet") == "puffin":
            return self._write_deletion_vectors(matched)
        out_dir = posixpath.join(self.metadata.location, "data", f"{uuid.uuid4()}-deletes")
        (
            matched.repartition("file_path")
            .sortWithinPartitions("file_path", "pos")  # spec: pos deletes sorted
            .write.mode("append")
            .parquet(out_dir)
        )
        paths = _list_parquet_files(out_dir)
        if not paths:
            return []
        stats = collect_file_stats(spark, paths, _pos_delete_schema())
        out = []
        for path in sorted(paths):
            st = stats[path]
            if st["record_count"] == 0:
                continue
            out.append(
                {
                    "content": 1,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "spec_id": self._spec().spec_id,
                    "schema_id": schema.schema_id,
                    "partition": {},
                    **st,
                }
            )
        return out

    def _write_deletion_vectors(self, matched: DataFrame) -> List[Dict[str, Any]]:
        """Write a (file_path, pos) DataFrame as ONE v3 deletion-vector
        Puffin file: bitmaps are built per referenced data file on
        executors (``applyInPandas``) so only compact serialized blobs —
        never row positions — reach the driver, then assembled into a
        single container whose blobs become content=1 DataFile entries
        carrying referenced_data_file/content_offset/content_size_in_bytes
        (spec data_file fields 143-145)."""
        import numpy as np
        import pandas as pd

        from ..io import fileio
        from .puffin import (
            BLOB_TYPE_DV,
            PROPERTY_CARDINALITY,
            PROPERTY_REFERENCED_DATA_FILE,
            PuffinWriter,
            dv_blob_payload,
        )

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            positions = np.unique(pdf["pos"].to_numpy(dtype="int64"))
            return pd.DataFrame(
                {
                    "file_path": [pdf["file_path"].iloc[0]],
                    "blob": [dv_blob_payload(positions)],
                    "card": [len(positions)],
                }
            )

        blobs = (
            matched.repartition("file_path")
            .groupBy("file_path")
            .applyInPandas(build, "file_path string, blob binary, card long")
            .collect()
        )
        if not blobs:
            return []
        writer = PuffinWriter(properties={"created-by": "iceberg_python_spark"})
        metas = []
        for row in sorted(blobs, key=lambda r: r["file_path"]):
            metas.append(
                (
                    row["file_path"],
                    int(row["card"]),
                    writer.add_blob(
                        BLOB_TYPE_DV,
                        bytes(row["blob"]),
                        properties={
                            PROPERTY_REFERENCED_DATA_FILE: row["file_path"],
                            PROPERTY_CARDINALITY: str(int(row["card"])),
                        },
                    ),
                )
            )
        data = writer.finish()
        spark = self._spark()
        schema = self._schema()
        path = posixpath.join(self.metadata.location, "data", f"{uuid.uuid4()}-deletes.puffin")
        fileio.write_bytes(path, data, spark)
        return [
            {
                "content": 1,
                "file_path": path,
                "file_format": "PUFFIN",
                "spec_id": self._spec().spec_id,
                "schema_id": schema.schema_id,
                "partition": {},
                "record_count": card,
                "file_size_in_bytes": len(data),
                "referenced_data_file": ref,
                "content_offset": meta.offset,
                "content_size_in_bytes": meta.length,
            }
            for ref, card, meta in metas
        ]

    def compact(
        self,
        snapshot_properties: Optional[Dict[str, str]] = None,
        target_file_size_bytes: Optional[int] = None,
        min_input_files: int = 2,
    ) -> None:
        """Rewrite fragmented/delete-laden files into fresh bin-packed
        files, as one REPLACE snapshot (rewrite_data_files maintenance;
        removes accumulated MoR debt).

        Selective BinPack strategy (reference utils/bin_packing.py +
        Iceberg's rewrite_data_files): files are lookback-packed into
        ``write.target-file-size-bytes`` bins per partition; only bins
        holding ≥ ``min_input_files`` files — or files with deletes to
        absorb — are rewritten. Right-sized clean files carry forward
        untouched, so compacting a 100 TB table with 1% small files
        rewrites ~1% of the data, not all of it. Delete files still
        referenced by a kept file survive; fully-absorbed ones are
        removed. ``min_input_files=1`` forces a full rewrite."""
        from ..io.bin_packing import ListPacker

        parent = self._parent()
        if parent is None:
            return
        tasks = DataScan(self.table, AlwaysTrue(), ("*",), True, None, None, self._scan_ref()).plan_files(
            self.metadata
        )
        if not tasks:
            return
        target = target_file_size_bytes or int(
            self.metadata.properties.get("write.target-file-size-bytes", str(512 * 1024 * 1024))
        )
        packer = ListPacker(target, lookback=20)
        by_part: Dict[str, List[FileScanTask]] = {}
        for t in tasks:
            key = json.dumps(
                {"s": t.data_file.get("spec_id", 0), "p": t.data_file.get("partition", {})},
                sort_keys=True,
                default=str,
            )
            by_part.setdefault(key, []).append(t)
        rewrite: List[FileScanTask] = []
        keep: List[FileScanTask] = []
        for group in by_part.values():
            for b in packer.pack(group, lambda t: t.data_file.get("file_size_in_bytes", 0)):
                if (
                    min_input_files <= 1
                    or len(b) >= min_input_files
                    or any(t.delete_files or t.eq_delete_files for t in b)
                ):
                    rewrite.extend(b)
                else:
                    keep.extend(b)
        if not rewrite:
            return
        current = self._rewrite_source_df(rewrite)
        # merge toward target size: without this the write keeps the input
        # split count and fragments survive (coalesce, not repartition —
        # no shuffle, compaction is supposed to be IO-shaped)
        total_bytes = sum(t.data_file.get("file_size_in_bytes", 0) for t in rewrite)
        n_out = max(1, -(-total_bytes // target))
        current = current.coalesce(int(n_out))
        files = self._write_files(
            current, extra_columns=("_row_id",) if self.metadata.format_version >= 3 else ()
        )
        removed = {t.file_path for t in rewrite}
        kept_paths = {t.file_path for t in keep}
        # A delete file is absorbed (droppable) iff no KEPT data file can
        # still need it. Rewritten files get fresh paths and a higher
        # sequence number, so surviving delete rows cannot re-apply to
        # them. Evidence per kind:
        #  - DV entries name referenced_data_file exactly;
        #  - parquet pos-delete files are probed with one small Spark job
        #    (do any rows reference a kept path?);
        #  - equality deletes reference values, not files → only
        #    droppable when nothing is kept.
        delete_entries = [
            e["data_file"]
            for e in self.table._live_entries(parent)
            if e["data_file"].get("content", 0) != CONTENT_DATA
        ]
        by_path: Dict[str, List[Dict[str, Any]]] = {}
        for d in delete_entries:
            by_path.setdefault(d["file_path"], []).append(d)
        pos_parquet: List[str] = []
        for path, ents in by_path.items():
            if any(d.get("content", 0) == 2 for d in ents):
                if not kept_paths:
                    removed.add(path)
            elif all(d.get("referenced_data_file") for d in ents):
                if not any(d["referenced_data_file"] in kept_paths for d in ents):
                    removed.add(path)
            else:
                pos_parquet.append(path)
        if pos_parquet:
            if not kept_paths:
                removed |= set(pos_parquet)
            else:
                spark = self._spark()
                dels = _pos_deletes_df(spark, sorted(pos_parquet)).withColumn(
                    "_src", F.col("_metadata.file_path")
                )
                kept_df = spark.createDataFrame([(p,) for p in sorted(kept_paths)], "file_path string")
                still_needed = {
                    r._src
                    for r in dels.join(F.broadcast(kept_df), "file_path")
                    .select("_src")
                    .distinct()
                    .collect()
                }
                removed |= set(pos_parquet) - still_needed
        self._commit_snapshot(Operation.REPLACE, files, removed_paths=removed, snapshot_properties=snapshot_properties)

    def rewrite_zorder(
        self,
        cols: List[str],
        bits: int = 16,
        target_file_size_bytes: Optional[int] = None,
        snapshot_properties: Optional[Dict[str, str]] = None,
    ) -> None:
        """Cluster the table's live rows on a Z-order (Morton) curve over
        ``cols`` and rewrite them as one REPLACE snapshot — Iceberg's
        ``rewrite_data_files(strategy=sort, sort_order=zorder(...))``
        maintenance action (the reference records sort orders but has no
        clustering rewrite).

        Spark shape: one full MoR-applied scan → one min/max aggregate
        (2·n scalars to the driver) → bit-interleaved ``_zkey`` built
        from Spark shift/or built-ins → ``repartitionByRange`` on
        (partition transforms, _zkey) + sortWithinPartitions → fan-out
        write with distribution-mode none so the range shaping survives.
        Every output file then covers a compact curve segment, keeping
        min/max footer stats tight on EVERY clustered column — scans
        filtering any of them prune files (verified in tests). All prior
        data files and all delete files are replaced/absorbed."""
        from ..zorder import zorder_shape

        parent = self._parent()
        if parent is None:
            return
        tasks = DataScan(self.table, AlwaysTrue(), ("*",), True, None, None, self._scan_ref()).plan_files(
            self.metadata
        )
        if not tasks:
            return
        target = target_file_size_bytes or int(
            self.metadata.properties.get("write.target-file-size-bytes", str(512 * 1024 * 1024))
        )
        total_bytes = sum(t.data_file.get("file_size_in_bytes", 0) for t in tasks)
        n_out = max(1, -(-total_bytes // target))
        current = self._rewrite_source_df(tasks)
        schema = self._schema()
        spec = self._spec()
        extra = [col for _name, col in spec.spark_partition_columns(schema)] if not spec.is_unpartitioned else []
        shaped = zorder_shape(current, cols, int(n_out), bits, extra_partition_cols=extra)
        files = write_data_files(
            self._spark(),
            shaped,
            schema,
            spec,
            self.metadata.location,
            commit_uuid=str(uuid.uuid4()),
            # distribution-mode none: write_data_files must not reshuffle
            # away the range clustering; sort order handled by the curve
            properties={**self.metadata.properties, "write.distribution-mode": "none"},
            sort_columns=None,
            extra_columns=("_row_id",) if self.metadata.format_version >= 3 else (),
        )
        removed = {t.file_path for t in tasks}
        removed |= {
            e["data_file"]["file_path"]
            for e in self.table._live_entries(parent)
            if e["data_file"].get("content", 0) != CONTENT_DATA
        }
        self._commit_snapshot(
            Operation.REPLACE, files, removed_paths=removed, snapshot_properties=snapshot_properties
        )

    def _commit_snapshot(
        self,
        operation: str,
        added_files: List[Dict[str, Any]],
        removed_paths: Optional[Set[str]] = None,
        snapshot_properties: Optional[Dict[str, str]] = None,
        conflict_filter: Optional[BooleanExpression] = None,
    ) -> None:
        """Produce a snapshot: new manifest for added files, carry forward /
        rewrite existing manifests (reference table/update/snapshot.py:94-733).

        ``conflict_filter``: for filter-based deletes, the bound predicate
        whose matching rows this commit claims — used by the CAS-retry
        rebase to detect concurrent appends that would semantically
        conflict."""
        if self.default_snapshot_properties:
            snapshot_properties = {**self.default_snapshot_properties, **(snapshot_properties or {})}
        if not self._replaying:
            self._staged.append(
                {
                    "operation": operation,
                    "added_files": added_files,
                    "removed_paths": set(removed_paths or ()),
                    "snapshot_properties": snapshot_properties,
                    "conflict_filter": conflict_filter,
                }
            )
        meta = self.metadata
        schema = meta.schema()
        parent = self._parent()
        snapshot_id = _new_snapshot_id()
        seq = meta.last_sequence_number + 1
        removed_paths = removed_paths or set()
        manifests_dir = posixpath.join(_metadata_base(meta), "manifests")
        # write.metadata.format=avro emits the spec's Avro manifests so
        # other Iceberg engines read this table natively (default:
        # parquet — Spark-readable, enables the distributed planner)
        mfmt = _metadata_format(meta)

        new_manifest_files: List[Dict[str, Any]] = []
        deleted_files = deleted_records = deleted_size = 0
        # per-partition change tracking for the optional partition
        # summaries (reference SnapshotSummaryCollector, snapshots.py:295)
        changed_partitions: List[Tuple[str, Dict[str, Any], bool]] = []
        # carry forward existing manifests, rewriting any that lose files
        for m in self.table._live_manifests(parent) if parent else []:
            spec = meta.spec_by_id(m["spec_id"])
            if not removed_paths:
                new_manifest_files.append(m)
                continue
            entries = read_manifest(m["manifest_path"], schema, spec, manifest=m)
            live = [e for e in entries if e["status"] != STATUS_DELETED]
            hit = [e for e in live if e["data_file"]["file_path"] in removed_paths]
            if not hit:
                new_manifest_files.append(m)
                continue
            for e in hit:
                if e["data_file"].get("partition"):
                    changed_partitions.append(
                        (spec.partition_to_path(e["data_file"]["partition"], schema), e["data_file"], False)
                    )
            deleted_files += len(hit)
            deleted_records += sum(e["data_file"]["record_count"] for e in hit)
            deleted_size += sum(e["data_file"]["file_size_in_bytes"] for e in hit)
            keep = [e for e in live if e["data_file"]["file_path"] not in removed_paths]
            if keep:
                for e in keep:
                    e["status"] = STATUS_EXISTING
                path = posixpath.join(manifests_dir, f"manifest-{uuid.uuid4()}.{mfmt}")
                new_manifest_files.append(write_manifest(path, keep, schema, spec, fmt=mfmt, codec=_avro_codec(meta)))

        # v3 row lineage (spec first-row-id; reference update/__init__.py:
        # 447-468): each committed data file gets the base of its implicit
        # _row_id range; the table's next-row-id advances by rows assigned
        snapshot_first_row_id: Optional[int] = None
        if meta.format_version >= 3:
            cursor = meta.next_row_id or 0
            snapshot_first_row_id = cursor
            for f in added_files:
                if f.get("content", CONTENT_DATA) == CONTENT_DATA:
                    f["first_row_id"] = cursor
                    cursor += f.get("record_count", 0)
            meta.next_row_id = cursor

        if added_files:
            # one manifest per (spec, content): a manifest must be all-data
            # or all-deletes — its descriptor carries a single content flag
            by_spec: Dict[Tuple[int, int], List[Dict[str, Any]]] = {}
            for f in added_files:
                key = (f.get("spec_id", meta.default_spec_id), f.get("content", CONTENT_DATA))
                by_spec.setdefault(key, []).append(f)
            for (spec_id, _content), files in by_spec.items():
                spec = meta.spec_by_id(spec_id)
                entries = [
                    {"status": STATUS_ADDED, "snapshot_id": snapshot_id, "sequence_number": seq, "data_file": f}
                    for f in files
                ]
                path = posixpath.join(manifests_dir, f"manifest-{uuid.uuid4()}.{mfmt}")
                new_manifest_files.append(write_manifest(path, entries, schema, spec, fmt=mfmt, codec=_avro_codec(meta)))

        # manifest merging (reference _ManifestMergeManager, update/
        # snapshot.py:733-805): when enabled and the data-manifest count
        # passes min-count, bin-pack small manifests into consolidated ones
        # so planning stays O(few manifests) as commit count grows
        if meta.properties.get("commit.manifest-merge.enabled", "false") == "true":
            min_count = int(meta.properties.get("commit.manifest.min-count-to-merge", "100"))
            n_data = sum(1 for m in new_manifest_files if m.get("content", CONTENT_DATA) == CONTENT_DATA)
            if n_data >= min_count:
                new_manifest_files = self._merge_manifests(new_manifest_files, schema, meta, manifests_dir)

        manifest_list_path = posixpath.join(manifests_dir, f"snap-{snapshot_id}.{mfmt}")
        write_manifest_list(
            manifest_list_path, new_manifest_files, meta.spec(), schema,
            fmt=mfmt, snapshot_id=snapshot_id, sequence_number=seq,
            codec=_avro_codec(meta),
        )

        total_files = sum(m["added_files_count"] + m["existing_files_count"] for m in new_manifest_files)
        total_records = sum(m["added_rows_count"] + m.get("existing_rows_count", 0) for m in new_manifest_files)
        for f in added_files:
            if f.get("partition"):
                spec = meta.spec_by_id(f.get("spec_id", meta.default_spec_id))
                changed_partitions.append((spec.partition_to_path(f["partition"], schema), f, True))
        part_props = partition_summary_properties(
            changed_partitions, int(meta.properties.get("write.summary.partition-limit", "0"))
        )
        summary = build_summary(
            operation,
            added_files=len(added_files),
            added_records=sum(f["record_count"] for f in added_files),
            added_size=sum(f["file_size_in_bytes"] for f in added_files),
            deleted_files=deleted_files,
            deleted_records=deleted_records,
            deleted_size=deleted_size,
            total_files=total_files,
            total_records=total_records,
            extra={**part_props, **(snapshot_properties or {})},
        )
        now_ms = int(time.time() * 1000)
        snapshot = Snapshot(
            snapshot_id=snapshot_id,
            parent_snapshot_id=parent.snapshot_id if parent else None,
            sequence_number=seq,
            timestamp_ms=now_ms,
            manifest_list=manifest_list_path,
            summary=summary,
            schema_id=schema.schema_id,
            first_row_id=snapshot_first_row_id,
        )
        self._register_snapshot(meta, snapshot)

    def _register_snapshot(self, meta: TableMetadata, snapshot: Snapshot) -> None:
        """Attach a produced snapshot to the txn metadata and advance the
        target branch ref (main also advances current + the snapshot log)."""
        snapshot_id, seq, now_ms = snapshot.snapshot_id, snapshot.sequence_number, snapshot.timestamp_ms
        meta.snapshots.append(snapshot)
        meta.last_sequence_number = seq
        meta.last_updated_ms = now_ms
        if self._branch == MAIN_BRANCH:
            meta.current_snapshot_id = snapshot_id
            meta.refs[MAIN_BRANCH] = SnapshotRef(snapshot_id, "branch")
            # the snapshot log tracks only the main lineage (spec: it is
            # the current-snapshot history used by timestamp time travel)
            meta.snapshot_log.append(SnapshotLogEntry(snapshot_id, now_ms))
        else:
            old = meta.refs[self._branch]
            meta.refs[self._branch] = SnapshotRef(
                snapshot_id,
                "branch",
                old.min_snapshots_to_keep,
                old.max_snapshot_age_ms,
                old.max_ref_age_ms,
            )
        self._dirty = True

    def rewrite_manifests(self, target_entries: Optional[int] = None) -> int:
        """Consolidate small manifests into few large ones WITHOUT touching
        data files (Iceberg's rewrite_manifests maintenance action — absent
        from the reference; our commit-time merge covers appends, this
        covers tables whose manifest count grew through deletes/rewrites).
        Planning cost is O(manifests), so keeping manifests packed keeps
        scan planning fast as commit count grows. Returns the number of
        manifests after the rewrite (0 = nothing to do)."""
        meta = self.metadata
        parent = self._parent()
        if parent is None:
            return 0
        schema = meta.schema()
        manifests_dir = posixpath.join(_metadata_base(meta), "manifests")
        live = self.table._live_manifests(parent)
        if target_entries is not None:
            meta = _dc_replace(
                meta,
                properties={**meta.properties, "commit.manifest.target-entries": str(target_entries)},
            )
        merged = self._merge_manifests(live, schema, meta, manifests_dir)
        if len(merged) >= len(live):
            return 0  # already consolidated
        snapshot_id = _new_snapshot_id()
        seq = self.metadata.last_sequence_number + 1
        mfmt = _metadata_format(self.metadata)
        manifest_list_path = posixpath.join(manifests_dir, f"snap-{snapshot_id}.{mfmt}")
        write_manifest_list(
            manifest_list_path, merged, self.metadata.spec(), schema,
            fmt=mfmt, snapshot_id=snapshot_id, sequence_number=seq,
            codec=_avro_codec(self.metadata),
        )
        total_files = sum(m["added_files_count"] + m["existing_files_count"] for m in merged)
        total_records = sum(m["added_rows_count"] + m.get("existing_rows_count", 0) for m in merged)
        summary = build_summary(
            Operation.REPLACE,
            added_files=0, added_records=0, added_size=0,
            deleted_files=0, deleted_records=0, deleted_size=0,
            total_files=total_files, total_records=total_records,
            extra={"manifests-replaced": str(len(live)), "manifests-created": str(len(merged))},
        )
        now_ms = int(time.time() * 1000)
        self._register_snapshot(
            self.metadata,
            Snapshot(
                snapshot_id=snapshot_id,
                parent_snapshot_id=parent.snapshot_id,
                sequence_number=seq,
                timestamp_ms=now_ms,
                manifest_list=manifest_list_path,
                summary=summary,
                schema_id=schema.schema_id,
            ),
        )
        if not self._replaying:
            # stage a replayable marker: a CAS-retry rebase replays only
            # _staged, and a bare _register_snapshot would silently drop
            # this snapshot when mixed with other staged ops
            self._staged.append(
                {
                    "operation": "rewrite_manifests",
                    "target_entries": target_entries,
                    "added_files": [],
                    "removed_paths": set(),
                    "snapshot_properties": None,
                    "conflict_filter": None,
                }
            )
        return len(merged)

    def _merge_manifests(
        self, manifest_files: List[Dict[str, Any]], schema: Schema, meta: TableMetadata, manifests_dir: str
    ) -> List[Dict[str, Any]]:
        """Consolidate data manifests per spec into chunks of at most
        commit.manifest.target-entries entries. Entries keep their original
        snapshot_id/sequence_number (demoted to EXISTING), so incremental
        scans over historical snapshot ranges are unaffected — each old
        snapshot still points at its own immutable manifest list."""
        target = int(meta.properties.get("commit.manifest.target-entries", "8192"))
        # the reference sizes merged manifests in BYTES
        # (commit.manifest.target-size-bytes, default 8 MB); honor it by
        # converting through the observed bytes-per-entry of the input
        # manifests, so either knob controls the merge
        tsb = meta.properties.get("commit.manifest.target-size-bytes")
        if tsb:
            n_entries = sum(
                m.get("added_files_count", 0) + m.get("existing_files_count", 0)
                for m in manifest_files
                if m.get("content", CONTENT_DATA) == CONTENT_DATA
            )
            def _mlen(m: Dict[str, Any]) -> int:
                # parquet-era descriptors may carry no manifest_length;
                # backfill from the file itself rather than letting the
                # per_entry divisor clamp to 1 (which would turn the
                # byte target into tsb ENTRIES and disable the bound)
                if not m.get("manifest_length"):
                    from ..io.fileio import file_size

                    try:
                        return int(file_size(m["manifest_path"]))
                    except Exception:
                        return 0
                return int(m["manifest_length"])

            n_bytes = sum(
                _mlen(m)
                for m in manifest_files
                if m.get("content", CONTENT_DATA) == CONTENT_DATA
            )
            if n_bytes > 0 and n_entries > 0:
                per_entry = max(1, n_bytes // n_entries)
                target = max(1, int(tsb) // per_entry)
            # else: sizes genuinely unknown — keep the entry-count
            # target instead of deriving one from per_entry=1
        out = [m for m in manifest_files if m.get("content", CONTENT_DATA) != CONTENT_DATA]
        by_spec: Dict[int, List[Dict[str, Any]]] = {}
        for m in manifest_files:
            if m.get("content", CONTENT_DATA) == CONTENT_DATA:
                by_spec.setdefault(m["spec_id"], []).append(m)
        for spec_id, group in by_spec.items():
            spec = meta.spec_by_id(spec_id)
            entries: List[Dict[str, Any]] = []
            for m in group:
                for e in read_manifest(m["manifest_path"], schema, spec, manifest=m):
                    if e["status"] == STATUS_DELETED:
                        continue
                    e["status"] = STATUS_EXISTING
                    entries.append(e)
            mfmt = _metadata_format(meta)
            for i in range(0, len(entries), target):
                path = posixpath.join(manifests_dir, f"manifest-{uuid.uuid4()}.{mfmt}")
                out.append(write_manifest(path, entries[i : i + target], schema, spec, fmt=mfmt, codec=_avro_codec(meta)))
        return out

    # -- public write ops --------------------------------------------------------
    def append(self, df: DataFrame, snapshot_properties: Optional[Dict[str, str]] = None) -> None:
        files = self._write_files(df)
        self._commit_snapshot(Operation.APPEND, files, snapshot_properties=snapshot_properties)

    def delete(
        self,
        delete_filter: Union[str, BooleanExpression],
        snapshot_properties: Optional[Dict[str, str]] = None,
        mode: Optional[str] = None,
    ) -> None:
        """Row-level delete. Strict-match files are dropped metadata-only
        (no data read) in both modes; for partially-matching files:

        - copy-on-write (default): rewrite with the complement filter
          (reference table/update/snapshot.py:409-484);
        - merge-on-read: write position-delete files instead — matched
          (file, row_index) pairs captured via Spark's ``_metadata``
          virtual column and applied as an anti-join at scan time
          (the read side of reference io/pyarrow.py:1130-1176; the
          reference's own delete falls back to CoW, table/__init__.py:726
          — our MoR write is an extension it plans but does not ship).

        Mode resolves from the argument, else the table property
        ``write.delete.mode``, else copy-on-write."""
        mode = mode or self.metadata.properties.get("write.delete.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown delete mode {mode!r} (use 'copy-on-write' or 'merge-on-read')")
        if isinstance(delete_filter, str):
            delete_filter = parse_filter(delete_filter)
        schema = self._schema()
        bound = bind(delete_filter, schema)
        if isinstance(bound, AlwaysFalse):
            return
        all_entries = self.table._live_entries(self._parent())
        deletes = _DeleteIndex(all_entries)
        inclusive = inclusive_metrics_evaluator(bound)
        strict = strict_metrics_evaluator(bound)

        full_delete: List[Dict[str, Any]] = []
        # partially-matching files, each with its pre-existing position
        # and equality deletes, so neither a rewrite nor new position
        # deletes resurrect or re-delete rows deleted under merge-on-read
        partial: List[FileScanTask] = []
        for e in all_entries:
            df_ = e["data_file"]
            if df_.get("content", 0) != CONTENT_DATA:
                continue
            spec = self.metadata.spec_by_id(df_.get("spec_id", self.metadata.default_spec_id))
            res = compute_residual(spec, schema, bound, df_.get("partition", {}))
            if isinstance(res, AlwaysFalse):
                continue  # partition proves no rows match
            if isinstance(res, AlwaysTrue) or strict(df_):
                full_delete.append(df_)
            elif inclusive(df_):
                partial.append(deletes.task(df_, AlwaysTrue(), e["sequence_number"]))

        added: List[Dict[str, Any]] = []
        rewritten_paths: Set[str] = set()
        if partial and mode == "merge-on-read":
            non_parquet = {t.data_file.get("file_format", "PARQUET") for t in partial} - {"PARQUET"}
            if non_parquet:
                raise NotImplementedError(
                    f"merge-on-read delete over {sorted(non_parquet)} data files needs per-row "
                    "positions, which Spark's reader only exposes for parquet "
                    "(_metadata.row_index); use mode='copy-on-write'"
                )
            delete_files = self._write_position_deletes(partial, bound)
            removed = {d["file_path"] for d in full_delete}
            if not removed and not delete_files:
                return
            self._commit_snapshot(
                Operation.DELETE,
                delete_files,
                removed_paths=removed,
                snapshot_properties=snapshot_properties,
                conflict_filter=bound,
            )
            return
        if partial:
            spark = self._spark()
            any_deletes = any(t.delete_files or t.eq_delete_files for t in partial)
            # v3 rewrites must PRESERVE row ids (spec: materialize _row_id
            # into rewritten files; null = inherit from the new file's
            # base, so already-materialized ids win)
            v3_lineage = self.metadata.format_version >= 3
            src = _read_tasks(spark, self.metadata, partial, schema, row_ids=v3_lineage)
            n_before = src.count() if any_deletes else sum(t.data_file["record_count"] for t in partial)
            pred = to_spark_column(bound)
            # keep rows where the predicate is NOT true (null-safe complement,
            # reference io/pyarrow.py:1093 _expression_to_complementary_pyarrow)
            remaining = src.where(~F.coalesce(pred, F.lit(False)))
            added = self._write_files(
                remaining, extra_columns=("_row_id",) if v3_lineage else ()
            )
            n_after = sum(f["record_count"] for f in added)
            if n_after == n_before:
                # nothing actually matched in the partial files; drop rewrite
                from ..io.fileio import remove as _rm

                for f in added:
                    _rm(f["file_path"], spark)
                added = []
            else:
                rewritten_paths = {t.file_path for t in partial}

        removed = {d["file_path"] for d in full_delete} | rewritten_paths
        if not removed and not added:
            return  # no-op delete
        self._commit_snapshot(
            Operation.DELETE, added, removed_paths=removed, snapshot_properties=snapshot_properties, conflict_filter=bound
        )

    def add_equality_deletes(
        self,
        keys_df: DataFrame,
        equality_fields: Sequence[str],
        snapshot_properties: Optional[Dict[str, str]] = None,
    ) -> None:
        """Commit equality-delete files: rows whose values match any key
        row on ``equality_fields`` are deleted from all OLDER data files
        (strictly lower sequence number) at read time.

        This is the cheapest delete at scale — O(keys) written, no table
        scan, no rewrite; the cost moves to scans as one broadcast
        anti-join, reclaimed by compact(). Read-side parity: reference
        plans these via table/delete_file_index.py:105 (Flink/CDC writers
        produce them; the reference itself reads but does not write them).
        """
        schema = self._schema()
        fields = [schema.find_field(name) for name in equality_fields]
        fids = [f.field_id for f in fields]
        key_schema = Schema(*fields)
        spark = self._spark()
        aligned = keys_df.select(
            *[
                F.col(f.name).cast(to_spark_type(f.field_type)).alias(
                    f.name, metadata={"parquet.field.id": f.field_id}
                )
                for f in fields
            ]
        ).dropDuplicates([f.name for f in fields])
        out_dir = posixpath.join(self.metadata.location, "data", f"{uuid.uuid4()}-eq-deletes")
        aligned.write.mode("append").parquet(out_dir)
        from ..io.write import _list_parquet_files, collect_file_stats

        paths = _list_parquet_files(out_dir)
        stats = collect_file_stats(spark, paths, key_schema)
        files = []
        for path in sorted(paths):
            st = stats[path]
            if st["record_count"] == 0:
                continue
            files.append(
                {
                    "content": 2,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "spec_id": self._spec().spec_id,
                    "schema_id": schema.schema_id,
                    "partition": {},
                    "equality_ids": fids,
                    **st,
                }
            )
        if files:
            self._commit_snapshot(Operation.DELETE, files, snapshot_properties=snapshot_properties)

    def overwrite(
        self,
        df: DataFrame,
        overwrite_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        snapshot_properties: Optional[Dict[str, str]] = None,
    ) -> None:
        """Delete-by-filter then append (CoW), as one commit chain
        (reference table/__init__.py:606-701)."""
        if isinstance(overwrite_filter, str):
            overwrite_filter = parse_filter(overwrite_filter)
        if not isinstance(overwrite_filter, AlwaysFalse):
            self.delete(overwrite_filter, snapshot_properties)
        files = self._write_files(df)
        self._commit_snapshot(Operation.OVERWRITE, files, snapshot_properties=snapshot_properties)

    def dynamic_partition_overwrite(self, df: DataFrame, snapshot_properties: Optional[Dict[str, str]] = None) -> None:
        """Replace exactly the partitions present in ``df``
        (reference table/__init__.py:541-604)."""
        spec = self._spec()
        if spec.is_unpartitioned:
            raise ValueError("cannot dynamic-partition-overwrite an unpartitioned table")
        schema = self._schema()
        aligned = coerce_to_table_schema(df, schema)
        pcols = [col.alias(name) for name, col in spec.spark_partition_columns(schema)]
        incoming = {
            tuple(row[name] for name in spec.field_names())
            for row in aligned.select(*pcols).distinct().collect()
        }
        # normalize Spark row values to internal representation
        part_schema = spec.partition_schema(schema)
        from ..expressions import to_internal

        def norm(name: str, v: Any) -> Any:
            return None if v is None else to_internal(v, part_schema.find_field(name).field_type)

        incoming = {tuple(norm(n, v) for n, v in zip(spec.field_names(), t)) for t in incoming}
        parent = self._parent()
        removed: Set[str] = set()
        for e in self.table._live_entries(parent):
            d = e["data_file"]
            if d.get("content", 0) != CONTENT_DATA:
                continue
            key = tuple(d.get("partition", {}).get(n) for n in spec.field_names())
            if key in incoming:
                removed.add(d["file_path"])
        files = self._write_files(df)
        self._commit_snapshot(Operation.OVERWRITE, files, removed_paths=removed, snapshot_properties=snapshot_properties)

    def upsert(
        self,
        df: DataFrame,
        join_cols: Optional[List[str]] = None,
        when_matched_update_all: bool = True,
        when_not_matched_insert_all: bool = True,
        mode: Optional[str] = None,
    ) -> UpsertResult:
        """MERGE: update matched-and-changed rows, insert unmatched
        (reference table/__init__.py:800-948 + upsert_util.py).

        Spark shape (SURVEY.md §2.4): one join job computes the update and
        insert sets (null-safe non-key comparison). The commit is either

        - copy-on-write (default): the join carries ``_metadata.file_path``
          lineage, so the set of files containing a changed row falls out
          of the join itself; exactly those files are rewritten (kept rows
          + new values + inserts) in ONE OVERWRITE snapshot. Only the
          affected *file list* — metadata, same order as the scan plan —
          ever reaches the driver; row keys never do (improves on the
          reference, which builds a driver-side key predicate,
          upsert_util.py:create_match_filter), or
        - merge-on-read: the SAME join emits (file, row_index) for matched
          rows, written directly as position deletes + one OVERWRITE
          snapshot — the 100 TB path (SCALE.md).
        """
        mode = mode or self.metadata.properties.get("write.merge.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read", "eq-delete"):
            raise ValueError(
                f"unknown merge mode {mode!r} (use 'copy-on-write', 'merge-on-read' or 'eq-delete')"
            )
        schema = self._schema()
        if join_cols is None:
            join_cols = [schema.find_column_name(fid) for fid in schema.identifier_field_ids]
        if not join_cols:
            raise ValueError("upsert requires join_cols or identifier_field_ids on the schema")
        src = coerce_to_table_schema(df, schema).cache()
        # duplicate-key guard (reference upsert_util.py:51)
        if src.groupBy(*join_cols).count().where(F.col("count") > 1).limit(1).count() > 0:
            raise ValueError(f"duplicate rows in source on key {join_cols}")

        # prune the target scan with an IN filter when the key set is small
        # (reference upsert_util.create_match_filter); full scan otherwise —
        # the join itself handles matching at scale.
        match_filter: BooleanExpression = AlwaysTrue()
        if len(join_cols) == 1:
            keys = [r[0] for r in src.select(join_cols[0]).distinct().limit(10001).collect()]
            if len(keys) <= 10000:
                match_filter = In(join_cols[0], keys)
        if mode == "merge-on-read":
            return self._upsert_mor(src, join_cols, match_filter, when_matched_update_all, when_not_matched_insert_all)
        if mode == "eq-delete":
            return self._upsert_eq_delete(
                src, join_cols, match_filter, when_matched_update_all, when_not_matched_insert_all
            )

        v3_lineage = self.metadata.format_version >= 3
        tasks, tgt = self._target_with_lineage(match_filter, with_row_ids=v3_lineage)
        tgt = tgt.cache()
        # _metadata.file_path is a URI (file:/…); manifests store the plan
        # path — map back by scheme-normalized FULL path. Basenames are NOT
        # unique here: a partitioned fan-out write reuses one task's
        # part-file name across every partition directory it writes, so a
        # basename map would collapse all of a task's files into one and
        # the overwrite would miss rewritten files (dup rows on bucketed
        # tables — caught by the r06 clone bootstrap).
        path_by_norm = {_strip_uri_scheme(t.file_path): t.file_path for t in tasks}

        non_key = [c for c in schema.column_names if c not in join_cols]
        rows_updated = rows_inserted = 0
        affected: Set[str] = set()
        parts: List[DataFrame] = []
        updated = None
        if when_matched_update_all:
            cond = [src[k].eqNullSafe(tgt[k]) for k in join_cols]
            diff = F.lit(False)
            for c in non_key:
                diff = diff | ~src[c].eqNullSafe(tgt[c])
            updated = src.join(tgt, cond, "inner").where(diff).cache()
            rows_updated = updated.count()
            if rows_updated:
                # only the affected FILE LIST reaches the driver (bounded by
                # file count, like the scan plan itself) — never row keys
                affected = {
                    path_by_norm.get(_strip_uri_scheme(r[0]), r[0])
                    for r in updated.select("_ips_file").distinct().collect()
                }
                upd_keys = updated.select(*[src[k] for k in join_cols])
                # re-read ONLY the affected files WITHOUT the key pruning
                # filter: their non-matching rows must be carried into the
                # rewrite (tgt is key-pruned, so it can't provide them)
                aff_tasks = [t for t in tasks if t.file_path in affected]
                keep_cols = list(schema.column_names) + (["_row_id"] if v3_lineage else [])
                keep_src = _read_tasks(self._spark(), self.metadata, aff_tasks, schema, row_ids=v3_lineage)
                keep = keep_src.join(upd_keys, join_cols, "left_anti").select(*keep_cols)
                parts.append(keep)
                upd_cols = [src[c] for c in schema.column_names]
                if v3_lineage:
                    # an UPDATE preserves the row's identity: the target's
                    # resolved _row_id rides with the new values (spec)
                    upd_cols.append(tgt["_row_id"])
                parts.append(updated.select(*upd_cols))
        if when_not_matched_insert_all:
            inserts = src.join(tgt.select(*join_cols), join_cols, "left_anti").cache()
            rows_inserted = inserts.count()
            if rows_inserted:
                ins_cols = [F.col(c) for c in schema.column_names]
                if v3_lineage:
                    ins_cols.append(F.lit(None).cast("long").alias("_row_id"))
                parts.append(inserts.select(*ins_cols))
        if parts:
            to_write = parts[0]
            for p in parts[1:]:
                to_write = to_write.unionByName(p)
            files = self._write_files(
                to_write, extra_columns=("_row_id",) if v3_lineage else ()
            )
            op = Operation.OVERWRITE if affected else Operation.APPEND
            self._commit_snapshot(op, files, removed_paths=affected)
        for cached in (src, tgt) + ((updated,) if updated is not None else ()):
            cached.unpersist()
        return UpsertResult(rows_updated=rows_updated, rows_inserted=rows_inserted)

    def _rewrite_source_df(self, tasks: List["FileScanTask"]) -> DataFrame:
        """Rows of the given tasks for a rewrite (compaction/z-order):
        on v3 tables the resolved _row_id rides along so rewrites
        preserve row identity (spec: rewritten files materialize ids)."""
        return _read_tasks(
            self._spark(), self.metadata, tasks, self._schema(), row_ids=self.metadata.format_version >= 3
        )

    def _target_with_lineage(
        self, match_filter: BooleanExpression, with_row_ids: bool = False
    ) -> Tuple[List["FileScanTask"], DataFrame]:
        """Plan + read the pruned target WITH ``_ips_file``/``_ips_pos``
        row lineage, existing deletes applied (shared by the CoW and MoR
        upsert paths). ``with_row_ids`` adds a resolved v3 ``_row_id``
        column (materialized-or-inherited)."""
        scan = DataScan(self.table, match_filter, ("*",), True, None, None, self._scan_ref())
        tasks = scan.plan_files(self.metadata)
        schema = self._schema()
        df = _read_tasks(self._spark(), self.metadata, tasks, schema, lineage=True, row_ids=with_row_ids)
        bound = bind(match_filter, schema)
        if not isinstance(bound, AlwaysTrue):
            df = df.where(to_spark_column(bound))
        return tasks, df

    def _upsert_eq_delete(
        self,
        src: DataFrame,
        join_cols: List[str],
        match_filter: BooleanExpression,
        when_matched_update_all: bool,
        when_not_matched_insert_all: bool,
    ) -> UpsertResult:
        """MERGE committed as EQUALITY DELETES + append: one eq-delete
        snapshot covering every source key, then the source rows
        appended (the append's strictly-newer sequence number keeps
        them alive past their own delete). The COMMIT is O(source) —
        no target scan, no join, no rewrite; the read-side cost is one
        broadcast anti-join per scan until ``compact()`` reclaims it.
        This is the 100 TB upsert the reference cannot write at all
        (it reads eq deletes, ``delete_file_index.py:105``, but MoR
        write support is its roadmap gap).

        Semantics vs CoW: final table CONTENT is identical; physically,
        matched-but-UNCHANGED rows are also rewritten (CoW skips them),
        so ``rows_updated`` counts every matched key. Counting needs one
        key-only target join — the only part that touches the target."""
        if not (when_matched_update_all and when_not_matched_insert_all):
            raise ValueError(
                "mode='eq-delete' commits the full MERGE (update-all + insert-all); "
                "partial merges need the join-based modes"
            )
        n_src = src.count()
        _tasks, tgt = self._target_with_lineage(match_filter)
        matched = src.join(tgt.select(*join_cols), join_cols, "left_semi").count()
        self.add_equality_deletes(src.select(*join_cols), join_cols)
        self.append(src)
        return UpsertResult(rows_updated=matched, rows_inserted=n_src - matched)

    def _upsert_mor(
        self,
        src: DataFrame,
        join_cols: List[str],
        match_filter: BooleanExpression,
        when_matched_update_all: bool,
        when_not_matched_insert_all: bool,
    ) -> UpsertResult:
        """MERGE with a merge-on-read commit: one join over the pruned
        target (read WITH _metadata), matched-and-changed rows become
        position deletes + re-appended rows; all files land in ONE
        OVERWRITE snapshot."""
        schema = self._schema()
        v3_lineage = self.metadata.format_version >= 3
        _tasks, tgt = self._target_with_lineage(match_filter, with_row_ids=v3_lineage)
        non_parquet = {
            t.data_file.get("file_format", "PARQUET") for t in _tasks
        } - {"PARQUET"}
        if non_parquet:
            raise NotImplementedError(
                f"merge-on-read upsert over {sorted(non_parquet)} data files needs per-row "
                "positions, which Spark's reader only exposes for parquet "
                "(_metadata.row_index); use mode='copy-on-write'"
            )
        tgt = tgt.cache()

        non_key = [c for c in schema.column_names if c not in join_cols]
        rows_updated = rows_inserted = 0
        added_files: List[Dict[str, Any]] = []
        if when_matched_update_all:
            cond = [src[k].eqNullSafe(tgt[k]) for k in join_cols]
            diff = F.lit(False)
            for c in non_key:
                diff = diff | ~src[c].eqNullSafe(tgt[c])
            joined = src.join(tgt, cond, "inner").where(diff).cache()
            rows_updated = joined.count()
            if rows_updated:
                added_files += self._write_pos_delete_rows(
                    joined.select(F.col("_ips_file").alias("file_path"), F.col("_ips_pos").alias("pos"))
                )
                upd_cols = [src[c] for c in schema.column_names]
                if v3_lineage:
                    # re-appended updated rows keep the target row's id
                    upd_cols.append(tgt["_row_id"])
                added_files += self._write_files(
                    joined.select(*upd_cols),
                    extra_columns=("_row_id",) if v3_lineage else (),
                )
        if when_not_matched_insert_all:
            inserts = src.join(tgt.select(*join_cols), join_cols, "left_anti").cache()
            rows_inserted = inserts.count()
            if rows_inserted:
                added_files += self._write_files(inserts)
        if added_files:
            self._commit_snapshot(Operation.OVERWRITE, added_files)
        for cached in (src, tgt):
            cached.unpersist()
        return UpsertResult(rows_updated=rows_updated, rows_inserted=rows_inserted)

    def add_files(self, file_paths: List[str], snapshot_properties: Optional[Dict[str, str]] = None) -> None:
        """Register existing parquet/ORC files without rewriting them
        (reference table/__init__.py:972-1007; stats via footer reads on
        executors, io/pyarrow.py:2887 parquet_file_to_data_file).

        - ID-less foreign parquet (no embedded field ids) requires the
          ``schema.name-mapping.default`` table property, which also lets
          aliased column names resolve (reference name_mapping.py; files
          whose physical names differ from the schema are read through a
          per-file rename recorded in the manifest entry).
        - Partitioned tables: each file's partition tuple is derived from
          its footer bounds — the transformed lower and upper bound of
          every partition source must agree, else the file genuinely
          spans partitions and is rejected (reference
          table/__init__.py:990-1007)."""
        from ..io.write import collect_file_stats
        from ..name_mapping import load_name_mapping

        schema = self._schema()
        spec = self._spec()
        existing = {
            e["data_file"]["file_path"] for e in self.table._live_entries(self._parent())
        }
        dupes = existing & set(file_paths)
        if dupes:
            raise ValueError(f"files already referenced by table: {sorted(dupes)[:3]}...")
        parquet_paths = [p for p in file_paths if not p.endswith(".orc")]
        orc_paths = [p for p in file_paths if p.endswith(".orc")]

        mapping = load_name_mapping(self.metadata.properties)
        extra_names: Dict[str, int] = {}
        name_maps: Dict[str, Dict[int, str]] = {}  # per-file {field_id: file_column}
        if parquet_paths:
            import pyarrow.parquet as _pq

            from ..io.fileio import to_local

            schema_names = {f.name.lower() for f in schema.fields}
            for p in parquet_paths:
                file_schema = _pq.read_schema(to_local(p))
                has_ids = any(
                    (f.metadata or {}).get(b"PARQUET:field_id") is not None for f in file_schema
                )
                renames: Dict[int, str] = {}
                for f in file_schema:
                    if f.name.lower() in schema_names:
                        continue
                    fid = mapping.id_for(f.name) if mapping else None
                    if fid is None:
                        if has_ids:
                            continue  # resolved by embedded id at read time
                        raise ValueError(
                            f"cannot add {p!r}: column {f.name!r} has no field id and no "
                            f"name mapping (set {'schema.name-mapping.default'!r})"
                        )
                    renames[fid] = f.name
                    extra_names[f.name] = fid
                if renames:
                    name_maps[p] = renames

        stats = (
            collect_file_stats(
                self._spark(), parquet_paths, schema, extra_names or None,
                properties=self.metadata.properties,
            )
            if parquet_paths
            else {}
        )
        if orc_paths:
            # ORC footers aren't exposed by the footer reader; one Spark agg
            # job over the files computes the stats instead
            from ..io.write import spark_stats_for_files

            stats.update(
                spark_stats_for_files(
                    self._spark(), orc_paths, schema, fmt="ORC",
                    properties=self.metadata.properties,
                )
            )

        if not spec.is_unpartitioned:
            # partition values derive from footer bounds — a metrics mode
            # that suppresses bounds on a partition source column would
            # silently misregister every file as all-null
            from ..io.write import metrics_modes_for_schema

            modes = metrics_modes_for_schema(schema, self.metadata.properties)
            for pf in spec.fields:
                if modes[pf.source_id][0] in ("none", "counts"):
                    name = schema.find_field(pf.source_id).name
                    raise ValueError(
                        f"add_files needs min/max metrics on partition source column "
                        f"{name!r}; its metrics mode is {modes[pf.source_id][0]!r}"
                    )

        def derive_partition(p: str, st: Dict[str, Any]) -> Dict[str, Any]:
            if spec.is_unpartitioned:
                return {}
            values: Dict[str, Any] = {}
            for pf in spec.fields:
                src = schema.find_field(pf.source_id)
                lo = st["lower_bounds"].get(pf.source_id)
                hi = st["upper_bounds"].get(pf.source_id)
                if lo is None and hi is None:
                    values[pf.name] = None  # all-null source column
                    continue
                fn = pf.transform.transform(src.field_type)
                t_lo, t_hi = fn(lo), fn(hi)
                if t_lo != t_hi:
                    raise ValueError(
                        f"cannot add {p!r}: it spans partition values for "
                        f"{pf.name!r} ({t_lo!r} != {t_hi!r}) — rewrite it or "
                        f"split it per partition"
                    )
                values[pf.name] = t_lo
            return values

        files = []
        for p in file_paths:
            st = stats[p]
            d = {
                "content": CONTENT_DATA,
                "file_path": p,
                "file_format": "ORC" if p.endswith(".orc") else "PARQUET",
                "spec_id": spec.spec_id,
                "schema_id": schema.schema_id,
                "partition": derive_partition(p, st),
                **st,
            }
            if p in name_maps:
                d["name_map"] = name_maps[p]
            files.append(d)
        self._commit_snapshot(Operation.APPEND, files, snapshot_properties=snapshot_properties)

    def register_data_files(
        self,
        data_files: List[Dict[str, Any]],
        snapshot_properties: Optional[Dict[str, str]] = None,
    ) -> None:
        """Metadata-only append of fully-described data files (stats and
        partition tuples already known — e.g. lifted from another table's
        manifests by ``catalog.clone_table``). Unlike ``add_files`` this
        touches no data file and runs no Spark job: one manifest write.
        The files' partition dicts must match this table's default spec."""
        files = []
        for f in data_files:
            f = dict(f)
            f["spec_id"] = self.metadata.default_spec_id
            files.append(f)
        self._commit_snapshot(Operation.APPEND, files, snapshot_properties=snapshot_properties)

    # -- commit -------------------------------------------------------------------
    def commit_transaction(self) -> None:
        """CAS commit with validated retry (reference Transaction +
        table/update/validate.py): when the metadata pointer moved
        concurrently, refresh, check the staged operations for semantic
        conflicts against the snapshots that landed in between, and
        replay them on the new base. Appends always rebase; filter-based
        deletes rebase unless a concurrent append matches the delete
        filter; removed files must still be live (no double-delete)."""
        if not self._dirty:
            return
        attempts = int(self.metadata.properties.get("commit.retry.num-retries", "3"))
        for attempt in range(attempts + 1):
            try:
                self.table.catalog._commit_table(self.table, self.metadata)
                self._dirty = False
                return
            except CommitFailedException:
                has_replayable = bool(self._staged or self._prop_updates or self._prop_removals)
                if attempt >= attempts or not has_replayable:
                    raise
                fresh = self.table.catalog.load_table(self.table.identifier)
                self._validate_against(fresh.metadata)
                # rebase: replay the staged commits on the fresh base
                import copy as _copy

                self.table.metadata = fresh.metadata
                self.table.metadata_location = fresh.metadata_location
                self.metadata = _copy.deepcopy(fresh.metadata)
                self._replaying = True
                try:
                    for s in self._staged:
                        if s["operation"] == "rewrite_manifests":
                            self.rewrite_manifests(s["target_entries"])
                            continue
                        if s["operation"] == "metadata_evolution":
                            # transaction-scoped DDL: re-derive against
                            # the refreshed base (raises on true schema
                            # conflicts, which is the correct failure)
                            self.metadata = s["replay"](self.metadata)
                            continue
                        self._commit_snapshot(
                            s["operation"],
                            s["added_files"],
                            removed_paths=s["removed_paths"],
                            snapshot_properties=s["snapshot_properties"],
                        )
                finally:
                    self._replaying = False
                self._reapply_property_changes()

    def _validate_against(self, fresh: TableMetadata) -> None:
        """Semantic conflict checks between our base snapshot and the
        refreshed current (reference validate.py:41-357)."""
        # snapshots added since our base ON OUR TARGET BRANCH, newest->oldest
        chain: List[Snapshot] = []
        head = self._branch_head_id(fresh)
        cur = fresh.snapshot_by_id(head) if head is not None else None
        while cur is not None and cur.snapshot_id != self._base_snapshot_id:
            chain.append(cur)
            if cur.parent_snapshot_id is None:
                if self._base_snapshot_id is not None:
                    raise CommitFailedException(
                        f"base snapshot {self._base_snapshot_id} is no longer an "
                        f"ancestor of the current table state (history rewritten)"
                    )
                break
            cur = fresh.snapshot_by_id(cur.parent_snapshot_id)
            if cur is None and self._base_snapshot_id is not None:
                raise CommitFailedException("ancestry chain broken by concurrent expiration")

        needs_live_check = any(s["removed_paths"] for s in self._staged)
        live_paths: Set[str] = set()
        if needs_live_check:
            head_snap = fresh.snapshot_by_id(head) if head is not None else None
            live_paths = {
                e["data_file"]["file_path"] for e in self.table._live_entries(head_snap)
            }
        # data files added by the concurrent snapshots
        concurrent_added: List[Dict[str, Any]] = []
        if chain:
            schema = fresh.schema()
            snapshot_ids = {s.snapshot_id for s in chain}
            for s in chain:
                for m in read_manifest_list(s.manifest_list, fresh.spec_by_id, schema):
                    if m["added_snapshot_id"] not in snapshot_ids:
                        continue
                    spec = fresh.spec_by_id(m["spec_id"])
                    for e in read_manifest(m["manifest_path"], schema, spec, manifest=m):
                        if (
                            e["status"] == STATUS_ADDED
                            and e["snapshot_id"] in snapshot_ids
                            and e["data_file"].get("content", 0) == CONTENT_DATA
                        ):
                            concurrent_added.append(e["data_file"])

        for s in self._staged:
            removed = s["removed_paths"]
            if removed:
                gone = removed - live_paths
                if gone:
                    raise CommitFailedException(
                        f"conflict: files this {s['operation']} removes were concurrently "
                        f"deleted/rewritten: {sorted(gone)[:3]}"
                    )
            flt = s["conflict_filter"]
            if flt is not None and concurrent_added:
                matches = inclusive_metrics_evaluator(flt)
                hits = [d["file_path"] for d in concurrent_added if matches(d)]
                if hits:
                    raise CommitFailedException(
                        f"conflict: concurrently appended files may match this "
                        f"{s['operation']}'s filter: {hits[:3]}"
                    )
            elif removed and s["conflict_filter"] is None and concurrent_added:
                # upsert/DPO/compact: claims whole-table/partition state;
                # without a recorded predicate any concurrent append is a
                # potential semantic conflict — fail conservatively
                raise CommitFailedException(
                    f"conflict: {s['operation']} staged against a table state that "
                    f"gained {len(concurrent_added)} concurrent data files"
                )


# ---------------------------------------------------------------------------
# scans
# ---------------------------------------------------------------------------


def _bound_refs(expr: BooleanExpression) -> Set[str]:
    """Field NAMES a bound expression references (for read-side column
    sets: the post-scan filter needs its columns in the projection)."""
    out: Set[str] = set()

    def walk(e: BooleanExpression) -> None:
        if isinstance(e, (And, Or)):
            walk(e.left)
            walk(e.right)
        elif isinstance(e, Not):
            walk(e.child)
        elif isinstance(e, BoundPredicate):
            out.add(e.field.name)

    walk(expr)
    return out


class _ScanPlanning:
    """The work every planner of one scan shares, done once: the bound
    row filter, the manifest list, the per-spec partition-filter
    projections and the delete index. The driver-side and distributed
    task-list planners and the streamed distributed read all start from
    it, so a scan reads its manifest list once."""

    def __init__(self, metadata: TableMetadata, snap: Snapshot, schema: Schema, bound: BooleanExpression):
        self.metadata = metadata
        self.snap = snap
        self.schema = schema
        self.bound = bound
        self._part_filters: Dict[int, BooleanExpression] = {}

    @cached_property
    def manifests(self) -> List[Dict[str, Any]]:
        return read_manifest_list(self.snap.manifest_list, self.metadata.spec_by_id, self.schema)

    @cached_property
    def est_entries(self) -> int:
        return sum(
            m["added_files_count"] + m["existing_files_count"]
            for m in self.manifests
            if m.get("content", CONTENT_DATA) == CONTENT_DATA
        )

    def distributed(self) -> bool:
        """Distributed planning for huge tables (SURVEY.md §7 M5): above
        ``read.plan.distributed-threshold`` manifest entries, pruning runs
        as a Spark job over the manifest parquets instead of a driver
        loop — manifests ARE DataFrames here, which is why they are
        parquet not Avro."""
        return self.est_entries > int(self.metadata.properties.get("read.plan.distributed-threshold", "200000"))

    def part_filter(self, spec_id: int) -> BooleanExpression:
        """The row filter projected into a spec's partition space, cached
        per spec (reference :2669-2686)."""
        if spec_id not in self._part_filters:
            spec = self.metadata.spec_by_id(spec_id)
            self._part_filters[spec_id] = spec.inclusive_projection(self.schema, self.bound)
        return self._part_filters[spec_id]

    def pruned_manifests(self) -> Iterable[Tuple[Dict[str, Any], BooleanExpression]]:
        """Data manifests whose partition summaries may match the filter,
        each with its spec's partition filter."""
        for m in self.manifests:
            if m.get("content", CONTENT_DATA) != CONTENT_DATA:
                continue
            pf = self.part_filter(m["spec_id"])
            if isinstance(pf, AlwaysFalse):
                continue
            if not isinstance(pf, AlwaysTrue) and m.get("partition_summaries"):
                if not manifest_evaluator(m["partition_summaries"])(pf):
                    continue
            yield m, pf

    @cached_property
    def deletes(self) -> _DeleteIndex:
        """The delete side stays driver-side in every planner: delete
        files are orders of magnitude fewer than data files (the
        asymmetry the reference's DeleteFileIndex relies on). Built on
        first use, so scans that match no file never walk it."""
        entries: List[Dict[str, Any]] = []
        for m in self.manifests:
            if m.get("content", CONTENT_DATA) != CONTENT_DATA:
                spec = self.metadata.spec_by_id(m["spec_id"])
                entries += read_manifest(m["manifest_path"], self.schema, spec, manifest=m)
        return _DeleteIndex(e for e in entries if e["status"] != STATUS_DELETED)


class DataScan:
    """Immutable scan builder (reference table/__init__.py:1876 BaseScan,
    :2227 DataScan)."""

    def __init__(
        self,
        table: Table,
        row_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        selected_fields: Tuple[str, ...] = ("*",),
        case_sensitive: bool = True,
        snapshot_id: Optional[int] = None,
        limit: Optional[int] = None,
        use_ref: Optional[str] = None,
    ):
        self.table = table
        self.row_filter = parse_filter(row_filter) if isinstance(row_filter, str) else row_filter
        self.selected_fields = selected_fields
        self.case_sensitive = case_sensitive
        self.snapshot_id = snapshot_id
        self.limit = limit
        self.use_ref = use_ref

    def _replace(self, **kw) -> "DataScan":
        args = dict(
            table=self.table,
            row_filter=self.row_filter,
            selected_fields=self.selected_fields,
            case_sensitive=self.case_sensitive,
            snapshot_id=self.snapshot_id,
            limit=self.limit,
            use_ref=self.use_ref,
        )
        args.update(kw)
        return DataScan(**args)

    def update(self, **overrides) -> "DataScan":
        """Rebuild with replaced attributes (reference BaseScan.update) —
        e.g. ``scan.update(row_filter=..., limit=10)``."""
        if "row_filter" in overrides and isinstance(overrides["row_filter"], str):
            overrides["row_filter"] = parse_filter(overrides["row_filter"])
        return self._replace(**overrides)

    def with_case_sensitive(self, case_sensitive: bool = True) -> "DataScan":
        return self._replace(case_sensitive=case_sensitive)

    def filter(self, expr: Union[str, BooleanExpression]) -> "DataScan":
        new = parse_filter(expr) if isinstance(expr, str) else expr
        return self._replace(row_filter=And(self.row_filter, new))

    def select(self, *names: str) -> "DataScan":
        return self._replace(selected_fields=tuple(names))

    def with_limit(self, n: int) -> "DataScan":
        return self._replace(limit=n)

    def use_snapshot(self, snapshot_id: int) -> "DataScan":
        return self._replace(snapshot_id=snapshot_id)

    # -- planning -----------------------------------------------------------
    def _snapshot(self, metadata: TableMetadata) -> Optional[Snapshot]:
        if self.snapshot_id is not None:
            s = metadata.snapshot_by_id(self.snapshot_id)
            if s is None:
                raise ValueError(f"snapshot {self.snapshot_id} not found")
            return s
        if self.use_ref:
            ref = metadata.refs.get(self.use_ref)
            if ref is None:
                raise ValueError(f"unknown ref {self.use_ref!r}")
            return metadata.snapshot_by_id(ref.snapshot_id)
        return metadata.current_snapshot()

    def _scan_schema(self, metadata: TableMetadata, snap: Optional[Snapshot]) -> Schema:
        # current reads project the CURRENT schema (renames/adds visible over
        # old files via field-ID alignment); explicit time travel keeps the
        # snapshot's own schema for historical fidelity
        if snap is not None and (self.snapshot_id is not None or self.use_ref):
            try:
                return metadata.schema_by_id(snap.schema_id)
            except ValueError:
                return metadata.schema()
        return metadata.schema()

    def projection(self, metadata: Optional[TableMetadata] = None) -> Schema:
        metadata = metadata or self.table.metadata
        snap = self._snapshot(metadata)
        schema = self._scan_schema(metadata, snap)
        return schema.select(*self.selected_fields, case_sensitive=self.case_sensitive)

    def _plan_files_server(self, snap: Snapshot, bound: BooleanExpression) -> List[FileScanTask]:
        """Server-side scan planning (REST spec planTableScan; reference
        catalog/rest/__init__.py:502): the catalog plans the scan and
        returns file-scan-tasks; the local engine only reads. The bound
        row filter becomes each task's residual so row-level filtering
        still happens at read time."""
        raw = self.table.catalog.plan_table_scan(
            self.table.identifier,
            snapshot_id=snap.snapshot_id,
            select=list(self.selected_fields),
            row_filter=None if isinstance(self.row_filter, AlwaysTrue) else self.row_filter,
            case_sensitive=self.case_sensitive,
        )
        tasks: List[FileScanTask] = []
        for t in raw:
            f = t["data-file"]
            entry = {
                "content": CONTENT_DATA,
                "file_path": f["file-path"],
                "file_format": str(f.get("file-format", "PARQUET")).upper(),
                "spec_id": f.get("spec-id", self.table.metadata.default_spec_id),
                "partition": {},
                "record_count": f.get("record-count", 0),
                "file_size_in_bytes": f.get("file-size-in-bytes", 0),
            }
            pos, eq = [], []
            pos_sz, eq_sz = [], []
            for d in t.get("delete-files", []):
                if d.get("content") == "equality-deletes":
                    eq.append((d["file-path"], tuple(d.get("equality-ids") or ())))
                    eq_sz.append(d.get("file-size-in-bytes", -1))
                else:
                    pos.append(d["file-path"])
                    pos_sz.append(d.get("file-size-in-bytes", -1))
            pos_sorted = sorted(zip(pos, pos_sz))
            tasks.append(
                FileScanTask(
                    entry,
                    bound,
                    delete_files=tuple(p for p, _ in pos_sorted),
                    eq_delete_files=tuple(eq),
                    delete_sizes=tuple(s for _, s in pos_sorted),
                    eq_delete_sizes=tuple(eq_sz),
                )
            )
        return tasks

    def _server_planned(self, metadata: TableMetadata) -> bool:
        return metadata.properties.get("scan-planning-mode", "client") == "server" and hasattr(
            self.table.catalog, "plan_table_scan"
        )

    def _planning(self, metadata: TableMetadata) -> Optional["_ScanPlanning"]:
        """The scan's planning state under ``metadata`` (None when there
        is nothing to read: no snapshot, or a filter that binds to
        AlwaysFalse). Callers that plan more than once hold on to it."""
        snap = self._snapshot(metadata)
        if snap is None:
            return None
        schema = self._scan_schema(metadata, snap)
        bound = bind(self.row_filter, schema, self.case_sensitive)
        return None if isinstance(bound, AlwaysFalse) else _ScanPlanning(metadata, snap, schema, bound)

    def plan_files(
        self, metadata: Optional[TableMetadata] = None, *, plan: Optional["_ScanPlanning"] = None
    ) -> List[FileScanTask]:
        """Snapshot -> manifest-list -> manifest -> file pruning
        (reference ManifestGroupPlanner.plan_files :2622-2667):
        1. per-spec inclusive projection of the row filter into partition
           space prunes manifests via partition summaries;
        2. exact partition-tuple evaluation + min/max/null metrics prune
           files;
        3. a residual is attached per file.

        ``plan`` is planning state the caller already built with
        ``_planning`` (``to_df`` and ``count`` pass theirs, so the
        manifest list is read once per scan)."""
        plan = plan or self._planning(metadata or self.table.metadata)
        if plan is None:
            return []
        metadata = plan.metadata
        if self._server_planned(metadata):
            return self._plan_files_server(plan.snap, plan.bound)
        if plan.distributed():
            return self._plan_files_distributed(plan)
        schema, bound = plan.schema, plan.bound
        metrics_eval = inclusive_metrics_evaluator(bound)
        tasks: List[FileScanTask] = []
        for m, pf in plan.pruned_manifests():
            spec = metadata.spec_by_id(m["spec_id"])
            pf_eval = None if isinstance(pf, AlwaysTrue) else expression_evaluator(pf)
            for e in read_manifest(m["manifest_path"], schema, spec, manifest=m):
                if e["status"] == STATUS_DELETED:
                    continue
                d = e["data_file"]
                if pf_eval is not None and not pf_eval(d.get("partition", {})):
                    continue
                if not metrics_eval(d):
                    continue
                res = compute_residual(spec, schema, bound, d.get("partition", {}))
                if isinstance(res, AlwaysFalse):
                    continue
                tasks.append(plan.deletes.task(d, res, e["sequence_number"]))
        return tasks

    def _plan_files_distributed(self, plan: "_ScanPlanning") -> List[FileScanTask]:
        """Manifest pruning as a Spark job: read all (summary-surviving)
        manifests as one DataFrame per spec, evaluate BOTH the projected
        partition filter (on the JSON-parsed partition tuple) and the
        inclusive metrics condition (on stats_json bounds) JVM-side, and
        collect only the surviving (path, seq, partition) rows — the
        stats blobs never cross to the driver, so the collect is
        O(surviving files x ~100 bytes), the floor for feeding
        spark.read.parquet(*paths)."""
        from .manifests import _partition_from_json

        schema, bound = plan.schema, plan.bound
        tasks: List[FileScanTask] = []
        for spec_id, spec, df in self._pruned_entry_dfs(plan):
            rows = df.select(
                "file_path",
                "sequence_number",
                "record_count",
                "file_size_in_bytes",
                "partition_json",
                "schema_id",
                "file_format",
                # per-entry fields the read path needs that live inside
                # stats_json — extracted as tiny scalars so the stats
                # blobs still never cross to the driver: the name map
                # (add_files foreign columns; dropping it nulled mapped
                # columns — r09 regression test) and the v3 lineage base
                F.get_json_object("stats_json", "$.name_map").alias("_nm_json"),
                F.get_json_object("stats_json", "$.first_row_id").cast("long").alias("_first_row_id"),
            ).collect()
            # Residuals depend only on the partition value, not the file —
            # cache per distinct value so driver CPU is O(partitions), not
            # O(files) (the delete index caches per sequence number).
            part_cache: Dict[str, Tuple[Dict[str, Any], Any]] = {}
            for r in rows:
                hit = part_cache.get(r.partition_json or "")
                if hit is None:
                    part = _partition_from_json(r.partition_json, spec, schema)
                    hit = (part, compute_residual(spec, schema, bound, part))
                    part_cache[r.partition_json or ""] = hit
                part, res = hit
                if isinstance(res, AlwaysFalse):
                    continue
                d = {
                    "content": CONTENT_DATA,
                    "file_path": r.file_path,
                    "file_format": (r.file_format or "PARQUET").upper(),
                    "spec_id": spec_id,
                    "schema_id": r.schema_id,
                    "partition": part,
                    "record_count": r.record_count,
                    "file_size_in_bytes": r.file_size_in_bytes,
                }
                if r._nm_json:
                    d["name_map"] = {int(k): v for k, v in json.loads(r._nm_json).items()}
                if r._first_row_id is not None:
                    d["first_row_id"] = r._first_row_id
                tasks.append(plan.deletes.task(d, res, r.sequence_number))
        return tasks

    def _pruned_entry_dfs(self, plan: "_ScanPlanning"):
        """Per-spec DataFrames of SURVIVING manifest entries — manifest
        summary pruning driver-side (cheap, O(manifests)), then
        partition-tuple + metrics pruning as Catalyst predicates on
        executors. Shared by the collect-based distributed planner and
        the streaming distributed read (which never collects)."""
        from pyspark.sql import types as T

        from ..manifests_distributed import (  # local import avoids cycle
            json_storage_spark_type,
            metrics_spark_predicate,
        )

        spark = self.table.spark
        schema, bound = plan.schema, plan.bound
        by_spec: Dict[int, List[Dict[str, Any]]] = {}
        for m, _pf in plan.pruned_manifests():
            by_spec.setdefault(m["spec_id"], []).append(m)
        for spec_id, survivors in by_spec.items():
            pf = plan.part_filter(spec_id)
            spec = plan.metadata.spec_by_id(spec_id)
            # parquet manifests read natively; spec Avro manifests
            # (write.metadata.format=avro / other-engine tables) decode
            # on executors into the same row layout
            pq_paths = [m["manifest_path"] for m in survivors if not m["manifest_path"].endswith(".avro")]
            avro_manifests = [m for m in survivors if m["manifest_path"].endswith(".avro")]
            parts = []
            if pq_paths:
                parts.append(spark.read.parquet(*pq_paths))
            if avro_manifests:
                from ..manifests_distributed import avro_manifest_entries_df

                parts.append(avro_manifest_entries_df(spark, avro_manifests, schema, spec))
            df = parts[0]
            for extra in parts[1:]:
                df = df.unionByName(extra)
            df = df.where(
                (F.col("status") != STATUS_DELETED) & (F.col("content") == CONTENT_DATA)
            )
            if not isinstance(pf, AlwaysTrue):
                part_schema = spec.partition_schema(schema)
                struct = T.StructType(
                    [T.StructField(f.name, json_storage_spark_type(f.field_type)) for f in part_schema.fields]
                )
                df = df.withColumn("_part", F.from_json("partition_json", struct))
                pred = to_spark_column(
                    pf, column_for=lambda p: F.col(f"_part.{p.field.name}"), keep_internal=True
                )
                df = df.where(pred)
            if not isinstance(bound, AlwaysTrue):
                df = df.where(metrics_spark_predicate(bound, "stats_json"))
            yield spec_id, spec, df

    def _to_df_streaming_distributed(self, plan: "_ScanPlanning", projected: Schema):
        """Distributed planning that STAYS distributed into the read
        (SCALE.md r08 known limit; VERDICT r08 #2): above the
        distributed-planning threshold, the pruning job's surviving
        entries are written to a transient parquet path-manifest under
        ``{table}/metadata/scan-plans/`` (a distributed write — the
        file list NEVER materializes on the driver), and the scan reads
        through the Python DataSource's planned-manifest mode, whose
        InputPartitions are (manifest part, row-chunk) handles: driver
        memory is O(task count), not O(files). This is the engine's
        answer to the reference's ManifestGroupPlanner.plan_files
        (table/__init__.py:2622-2667) at file counts where even a
        compact path collect is a driver bottleneck.

        MoR tables stream too (r09 known limit, closed r10): the
        delete-file INDEX is built driver-side (delete files are orders
        of magnitude fewer than data files — the reference's
        DeleteFileIndex makes the same driver-side choice), the path
        manifest carries each data file's sequence number, the planned
        reader synthesizes (_ips_file, _ips_pos, _ips_seq), and deletes
        are applied as executor-side anti-joins after the scan
        (see ``_apply_streamed_deletes``).

        Returns None (-> caller falls back to the exact task-list path)
        when the scan needs per-task state the streamed shape cannot
        carry: non-parquet data, schema evolution that name-projection
        cannot express (renames / type promotions), server-side
        planning, or an explicit ``read.plan.distributed-read=false``.
        Row-level filters are re-applied post-scan, so skipping
        residual-based file pruning is sound (residuals only skip work,
        never change results).

        The path manifest is transient scan state: swept by the
        age-guarded ``Table.clean_scan_plans`` (run standalone or as
        part of ``expire_snapshots().commit(clean_files=True)``) — the
        age guard keeps in-flight reads safe."""
        import math
        import posixpath
        import uuid as _uuid

        metadata, schema, bound = plan.metadata, plan.schema, plan.bound
        props = metadata.properties
        if str(props.get("read.plan.distributed-read", "true")).lower() != "true":
            return None
        if self._server_planned(metadata) or not plan.distributed():
            return None
        spark = self.table.spark
        cols = [
            "file_path",
            "file_format",
            "schema_id",
            "record_count",
            "file_size_in_bytes",
            "sequence_number",
        ]
        # name-mapped foreign files (add_files) carry their physical
        # column names in stats_json; flag them here (tiny boolean per
        # row) instead of shipping the stats blob into the path manifest
        nm_flag = F.coalesce(F.col("stats_json").contains('"name_map"'), F.lit(False))
        dfs = [df.select(*cols, nm_flag.alias("has_name_map")) for _sid, _spec, df in self._pruned_entry_dfs(plan)]
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in projected.to_spark().fields]
        )
        if not dfs:
            self._streaming_plan_info = {"n_files": 0, "plan_dir": None}
            return spark.createDataFrame([], schema=out_schema)
        union = dfs[0]
        for extra in dfs[1:]:
            union = union.unionByName(extra)
        # dir name leads with a millisecond timestamp so the age-guarded
        # sweeper (Table.clean_scan_plans) needs no store mtime support
        plan_dir = posixpath.join(
            _metadata_base(metadata),
            "scan-plans",
            f"{int(time.time() * 1000)}-{_uuid.uuid4().hex}",
        )
        n_manifest_parts = int(min(64, plan.est_entries // 50_000 + 1))
        try:
            union.repartition(n_manifest_parts).write.mode("overwrite").parquet(plan_dir)
        except Exception:
            # read-only storage credentials (or any write failure under
            # metadata/) must degrade to the exact task-list path, not
            # fail the scan (ADVICE r09)
            return None

        from ..io import fileio

        pm = spark.read.parquet(plan_dir)
        info = pm.agg(
            F.count("*").alias("n"),
            F.sum("file_size_in_bytes").alias("bytes"),
            F.collect_set("file_format").alias("fmts"),
            F.collect_set("schema_id").alias("sids"),
            # name-projection would silently null out name-mapped
            # columns -> such tables take the exact path
            F.max("has_name_map").alias("has_name_map"),
        ).first()
        n_files = info["n"] or 0
        if n_files == 0:
            fileio.remove_recursive(plan_dir, spark)
            self._streaming_plan_info = {"n_files": 0, "plan_dir": None}
            return spark.createDataFrame([], schema=out_schema)
        if {str(f).upper() for f in info["fmts"]} != {"PARQUET"} or info["has_name_map"]:
            fileio.remove_recursive(plan_dir, spark)
            return None
        # name-projection safety across the schema ids present: every
        # field the scan touches must carry the SAME (id, name, type) in
        # each file schema it exists in — added columns (absent in old
        # files) null-fill by name, which is exactly the evolution
        # semantics; renames / promotions need per-group reads -> fall back
        needed = {f.name for f in projected.fields}
        for t_ in _bound_refs(bound):
            needed.add(t_)
        # equality-delete keys must be read to evaluate the anti-join
        deletes = plan.deletes
        for _dseq, _p, _fids, _sz, _sid in deletes.eq:
            for fid in _fids:
                try:
                    needed.add(schema.find_field(fid).name)
                except ValueError:
                    fileio.remove_recursive(plan_dir, spark)
                    return None  # eq key dropped from current schema
        for sid in info["sids"]:
            try:
                fschema = metadata.schema_by_id(sid)
            except ValueError:
                fileio.remove_recursive(plan_dir, spark)
                return None
            by_id = {f.field_id: f for f in fschema.fields}
            by_name = {f.name: f for f in fschema.fields}
            for f in schema.fields:
                if f.name not in needed:
                    continue
                old_f = by_id.get(f.field_id)
                if old_f is not None and (old_f.name != f.name or old_f.field_type != f.field_type):
                    fileio.remove_recursive(plan_dir, spark)
                    return None
                # a file column may bear this NAME under a different id
                # (rename a->b then add a new column a): a by-name read
                # would surface the old column's values where the new
                # column must be null -> exact field-id-aligned path
                named = by_name.get(f.name)
                if named is not None and named.field_id != f.field_id:
                    fileio.remove_recursive(plan_dir, spark)
                    return None

        # task granularity: pack files toward maxPartitionBytes, and cap
        # total task count (the JVM scheduler is the remaining O(tasks))
        try:
            mpb = int(str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).rstrip("b"))
        except ValueError:
            mpb = 134217728
        avg = max(1, (info["bytes"] or 0) // n_files)
        max_tasks = int(props.get("read.plan.max-tasks", "100000"))
        files_per_task = max(1, min(int(mpb // avg), 1000), math.ceil(n_files / max_tasks))
        mor = bool(deletes.pos or deletes.eq)
        self._streaming_plan_info = {
            "n_files": int(n_files),
            "plan_dir": plan_dir,
            "files_per_task": int(files_per_task),
            "n_pos_deletes": len(deletes.pos),
            "n_eq_deletes": len(deletes.eq),
        }

        from ..spark_datasource import register_data_source

        register_data_source(spark)
        read_fields = [f for f in schema.to_spark().fields if f.name in needed]
        struct_fields = [T.StructField(f.name, f.dataType, True) for f in read_fields]
        if mor:
            struct_fields += [
                T.StructField("_ips_file", T.StringType(), True),
                T.StructField("_ips_pos", T.LongType(), True),
                T.StructField("_ips_seq", T.LongType(), True),
            ]
        read_schema = T.StructType(struct_fields)
        out = (
            spark.read.format("iceberg_python_spark")
            .option("path_manifest_dir", plan_dir)
            .option("schema_json", json.dumps(read_schema.jsonValue()))
            .option("files_per_task", str(files_per_task))
            .option("lineage", "true" if mor else "false")
            .load()
        )
        if mor:
            out = self._apply_streamed_deletes(spark, metadata, out, schema, deletes)
        if not isinstance(bound, AlwaysTrue):
            out = out.where(to_spark_column(bound))
        out = out.select(*[F.col(f.name) for f in projected.fields])
        if self.limit is not None:
            out = out.limit(self.limit)
        return out

    def _apply_streamed_deletes(self, spark, metadata, out, schema, deletes: _DeleteIndex):
        """Executor-side delete application for the streamed MoR read:
        position deletes (parquet or DV Puffin) anti-join on the
        synthesized (_ips_file, _ips_pos); equality deletes anti-join on
        null-safe key equality plus the spec's strictly-newer rule
        (data _ips_seq < delete seq — reference
        delete_file_index.py:105). Path matching is exact because file
        paths are unique per file incarnation (uuid names; the exact
        task path relies on the same disjointness). Delete rows are
        read as distributed scans and broadcast only under the
        size-guarded threshold — nothing delete-side transits the
        driver."""
        threshold = _delete_broadcast_threshold(metadata)
        if deletes.pos:
            dels = _pos_deletes_df(spark, sorted({p for _s, p, _z in deletes.pos}))
            sizes = [sz for _s, _p, sz in deletes.pos]
            total = sum(sizes) if all(sz >= 0 for sz in sizes) else None
            cond = (
                _norm_lineage_file(dels["file_path"]) == F.col("_ips_file")
            ) & (dels["pos"] == F.col("_ips_pos"))
            out = out.join(_maybe_broadcast(dels, total, threshold), cond, "left_anti")
        by_fids: Dict[Tuple[int, ...], List[Tuple[int, str, int, Optional[int]]]] = {}
        for dseq, path, fids, sz, sid in deletes.eq:
            if fids:
                by_fids.setdefault(tuple(fids), []).append((dseq, path, sz, sid))
        for fids, items in sorted(by_fids.items()):
            names = [f"_ips_eq_{fid}" for fid in fids]
            # one read per distinct delete sequence number (files sharing
            # a seq read together); keep the NEWEST seq per key so a
            # re-inserted row (data seq >= old delete seq) survives
            by_seq: Dict[int, List[Tuple[str, Optional[int]]]] = {}
            for dseq, path, _sz, sid in items:
                by_seq.setdefault(int(dseq), []).append((path, sid))
            parts = [
                _eq_delete_keys(spark, metadata, files, fids, names, schema).withColumn(
                    "_dseq", F.lit(dseq).cast("long")
                )
                for dseq, files in sorted(by_seq.items())
            ]
            dels = parts[0]
            for p in parts[1:]:
                dels = dels.unionByName(p)
            dels = dels.groupBy(*names).agg(F.max("_dseq").alias("_dseq"))
            cond = F.col("_ips_seq") < dels["_dseq"]
            for fid, c in zip(fids, names):
                cond = cond & out[schema.find_field(fid).name].eqNullSafe(dels[c])
            sizes = [sz for _s, _p, sz, _sid in items]
            total = sum(sizes) if all(sz >= 0 for sz in sizes) else None
            out = out.join(_maybe_broadcast(dels, total, threshold), cond, "left_anti")
        return out

    # -- execution ----------------------------------------------------------
    def to_df(self, row_lineage: bool = False) -> DataFrame:
        return self._to_df_of(self.table.metadata, row_lineage=row_lineage)

    def _to_df_of(self, metadata: TableMetadata, row_lineage: bool = False) -> DataFrame:
        schema = self._scan_schema(metadata, self._snapshot(metadata))
        projected = schema.select(*self.selected_fields, case_sensitive=self.case_sensitive)
        if row_lineage and metadata.format_version < 3:
            raise ValueError("row lineage needs a format-version 3 table (next-row-id)")
        plan = self._planning(metadata)
        if not row_lineage and plan is not None:
            streamed = self._to_df_streaming_distributed(plan, projected)
            if streamed is not None:
                return streamed
        tasks = self.plan_files(plan=plan) if plan is not None else []
        if row_lineage and any(t.data_file.get("file_format", "PARQUET").upper() != "PARQUET" for t in tasks):
            raise NotImplementedError(
                "row lineage over non-parquet data files needs per-row positions, "
                "which Spark's reader only exposes for parquet (_metadata.row_index)"
            )
        out = _read_tasks(self.table.spark, metadata, tasks, schema, row_ids=row_lineage)
        if not all(isinstance(t.residual, AlwaysTrue) for t in tasks) and not isinstance(plan.bound, AlwaysTrue):
            out = out.where(to_spark_column(plan.bound))
        out = out.select(
            *projected.column_names, *(("_row_id", "_last_updated_sequence_number") if row_lineage else ())
        )
        if self.limit is not None:
            out = out.limit(self.limit)
        return out

    def count(self) -> int:
        """Metadata fast path: sum record_count where the residual is
        AlwaysTrue; read only files that still need the filter
        (reference table/__init__.py:2341-2366)."""
        plan = self._planning(self.table.metadata)
        tasks = self.plan_files(plan=plan) if plan is not None else []
        total = 0
        to_read: List[FileScanTask] = []
        for t in tasks:
            if isinstance(t.residual, AlwaysTrue) and not t.delete_files and not t.eq_delete_files:
                total += t.data_file["record_count"]
            else:
                to_read.append(t)
        if to_read:
            df = _read_tasks(self.table.spark, plan.metadata, to_read, plan.schema)
            if not isinstance(plan.bound, AlwaysTrue):
                df = df.where(to_spark_column(plan.bound))
            total += df.count()
        if self.limit is not None:
            total = min(total, self.limit)
        return total

    # -- exports (reference table/__init__.py:2300-2503) ----------------------
    def to_arrow(self):
        return self.to_df().toArrow()

    def to_arrow_batch_reader(self, batch_size: int = 1 << 16):
        """Stream the scan as a pyarrow RecordBatchReader (reference
        table/__init__.py:2318) — batches arrive via Spark's Arrow
        collect without materializing the whole result driver-side."""
        import pyarrow as pa

        df = self.to_df()
        batches = df._collect_as_arrow()  # Arrow-serialized partitions
        if not batches:
            empty = df.toArrow()
            return pa.RecordBatchReader.from_batches(empty.schema, [])
        schema = batches[0].schema

        def gen():
            for b in batches:
                # re-chunk to the requested batch size
                if b.num_rows <= batch_size:
                    yield b
                else:
                    tbl = pa.Table.from_batches([b])
                    for chunk in tbl.to_batches(max_chunksize=batch_size):
                        yield chunk

        return pa.RecordBatchReader.from_batches(schema, gen())

    def to_pandas(self):
        return self.to_df().toPandas()

    def to_duckdb(self, table_name: str, connection=None):
        import duckdb

        con = connection or duckdb.connect()
        arrow_table = self.to_arrow()  # noqa: F841 — registered by name below
        con.register(table_name, arrow_table)
        return con

    def to_polars(self):
        try:
            import polars  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("polars is not installed in this environment") from e
        return polars.from_arrow(self.to_arrow())

    def to_ray(self):
        try:
            import ray  # noqa: F401
        except ImportError as e:
            raise NotImplementedError("ray is not installed in this environment") from e
        return ray.data.from_arrow(self.to_arrow())


def _align_to_schema(df: DataFrame, file_schema: Schema, target: Schema, passthrough: Sequence[str] = ()) -> DataFrame:
    """Project a file-schema DataFrame to the target schema by field ID:
    rename, cast (promotion), fill initial-default/null for added columns
    (reference ArrowProjectionVisitor io/pyarrow.py:1931-2104)."""
    from ..types import UnknownType as _UnknownType

    cols = []
    for field in target.fields:
        # v3 unknown: no data is ever stored or read — always NULL
        if isinstance(field.field_type, _UnknownType):
            cols.append(F.lit(None).alias(field.name))
            continue
        old = file_schema.find_column_name(field.field_id)
        spark_t = to_spark_type(field.field_type)
        if old is None:
            default = field.initial_default
            cols.append(F.lit(default).cast(spark_t).alias(field.name))
        else:
            old_field = file_schema.find_field(field.field_id)
            c = F.col(old)
            if old_field.field_type != field.field_type:
                c = c.cast(spark_t)
            cols.append(c.alias(field.name))
    cols += [F.col(name) for name in passthrough]
    return df.select(*cols)


def _ancestor_chain(
    meta: TableMetadata, from_id: Optional[int], to_id: Optional[int]
) -> List[Snapshot]:
    """Snapshots from ``from_id`` (exclusive) to ``to_id`` (inclusive,
    default current), oldest first, with strict ancestry validation —
    silent over-read is a correctness trap for CDC consumers (reference
    table/__init__.py:2516-2554 raises likewise)."""
    to_id = to_id if to_id is not None else meta.current_snapshot_id
    if to_id is None:
        return []
    chain: List[Snapshot] = []
    cur = meta.snapshot_by_id(to_id)
    while cur is not None:
        if from_id is not None and cur.snapshot_id == from_id:
            break
        chain.append(cur)
        pid = cur.parent_snapshot_id
        if pid is None:
            if from_id is not None:
                raise ValueError(
                    f"Starting snapshot {from_id} is not an ancestor of end snapshot {to_id}"
                )
            break
        nxt = meta.snapshot_by_id(pid)
        if nxt is None:
            # intermediate parent expired: the walk can't prove ancestry
            # unless the unresolvable parent IS the exclusive start (an
            # expired from_id is a valid exclusive bound — its descendants
            # are all present in the chain)
            if from_id is not None and pid != from_id:
                raise ValueError(
                    f"Starting snapshot {from_id} is not an ancestor of end snapshot "
                    f"{to_id} (ancestry chain broken at expired snapshot {pid})"
                )
            break
        cur = nxt
    return list(reversed(chain))


class IncrementalAppendScan:
    """Rows appended between two snapshots — append snapshots only,
    ADDED entries only (reference table/__init__.py:2372-2554)."""

    def __init__(
        self,
        table: Table,
        from_snapshot_id_exclusive: Optional[int],
        to_snapshot_id_inclusive: Optional[int],
        row_filter: Union[str, BooleanExpression] = AlwaysTrue(),
        selected_fields: Tuple[str, ...] = ("*",),
    ):
        self.table = table
        self.from_id = from_snapshot_id_exclusive
        self.to_id = to_snapshot_id_inclusive
        self.row_filter = parse_filter(row_filter) if isinstance(row_filter, str) else row_filter
        self.selected_fields = selected_fields

    # -- fluent builders (reference IncrementalAppendScan:2372) --------------
    def from_snapshot_id_exclusive(self, snapshot_id: Optional[int]) -> "IncrementalAppendScan":
        return IncrementalAppendScan(self.table, snapshot_id, self.to_id, self.row_filter, self.selected_fields)

    def from_snapshot_id_inclusive(self, snapshot_id: int) -> "IncrementalAppendScan":
        """Inclusive start: the exclusive bound is that snapshot's parent."""
        snap = self.table.metadata.snapshot_by_id(snapshot_id)
        if snap is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        return IncrementalAppendScan(
            self.table, snap.parent_snapshot_id, self.to_id, self.row_filter, self.selected_fields
        )

    def to_snapshot_id_inclusive(self, snapshot_id: Optional[int]) -> "IncrementalAppendScan":
        return IncrementalAppendScan(self.table, self.from_id, snapshot_id, self.row_filter, self.selected_fields)

    # -- exports (delegate through the DataFrame plane) -----------------------
    def to_arrow(self):
        return self.to_df().toArrow()

    def to_pandas(self):
        return self.to_df().toPandas()

    def _snapshot_range(self) -> List[Snapshot]:
        chain = _ancestor_chain(self.table.metadata, self.from_id, self.to_id)
        return [s for s in chain if s.operation == Operation.APPEND]

    def plan_files(self) -> List[FileScanTask]:
        meta = self.table.metadata
        schema = meta.schema()
        bound = bind(self.row_filter, schema)
        if isinstance(bound, AlwaysFalse):
            return []
        snapshot_ids = {s.snapshot_id for s in self._snapshot_range()}
        if not snapshot_ids:
            return []
        metrics_eval = inclusive_metrics_evaluator(bound)
        tasks = []
        seen: Set[str] = set()
        for s in self._snapshot_range():
            for m in read_manifest_list(s.manifest_list, meta.spec_by_id, schema):
                if m["added_snapshot_id"] not in snapshot_ids:
                    continue
                spec = meta.spec_by_id(m["spec_id"])
                for e in read_manifest(m["manifest_path"], schema, spec, manifest=m):
                    if e["status"] != STATUS_ADDED or e["snapshot_id"] not in snapshot_ids:
                        continue
                    d = e["data_file"]
                    if d["file_path"] in seen:
                        continue
                    seen.add(d["file_path"])
                    if not metrics_eval(d):
                        continue
                    res = compute_residual(spec, schema, bound, d.get("partition", {}))
                    if isinstance(res, AlwaysFalse):
                        continue
                    tasks.append(FileScanTask(d, res))
        return tasks

    def to_df(self) -> DataFrame:
        meta = self.table.metadata
        schema = meta.schema()
        projected = schema.select(*self.selected_fields)
        # files appended before a rename resolve by field id, never NULL
        df = _read_tasks(self.table.spark, meta, self.plan_files(), schema)
        bound = bind(self.row_filter, schema)
        if not isinstance(bound, AlwaysTrue):
            df = df.where(to_spark_column(bound))
        return df.select(*[F.col(f.name) for f in projected.fields])


class IncrementalChangelogScan:
    """Row-level changelog between two snapshots — each snapshot's changes
    tagged ``_change_type`` (insert|delete), ``_change_ordinal``, and
    ``_change_snapshot_id`` (Iceberg's changelog scan / Spark's
    ``table_changes``; beyond the reference, which stops at the
    append-only incremental scan, table/__init__.py:2372).

    Per non-REPLACE snapshot in the range (REPLACE = compaction/clustering
    rewrites carry no logical change and are skipped):

    - data files added   -> their rows as inserts
    - data files removed -> their rows as deletes (a CoW rewrite therefore
      emits delete+insert for carried rows, matching Iceberg's default
      changelog; consumers wanting net rows aggregate by key downstream)
    - position-delete files / DVs added -> exactly the deleted rows,
      recovered by joining the (file, pos) pairs back onto the referenced
      data files

    Equality deletes in the range raise NotImplementedError (same
    limitation as Iceberg's changelog reader)."""

    def __init__(
        self,
        table: Table,
        from_snapshot_id_exclusive: Optional[int],
        to_snapshot_id_inclusive: Optional[int],
        selected_fields: Tuple[str, ...] = ("*",),
    ):
        self.table = table
        self.from_id = from_snapshot_id_exclusive
        self.to_id = to_snapshot_id_inclusive
        self.selected_fields = selected_fields

    def to_df(self) -> DataFrame:
        meta = self.table.metadata
        schema = meta.schema()
        projected = schema.select(*self.selected_fields)
        spark = self.table.spark
        chain = _ancestor_chain(meta, self.from_id, self.to_id)

        from pyspark.sql import types as T

        empty_schema = T.StructType(
            projected.to_spark().fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_change_ordinal", T.IntegerType()),
                T.StructField("_change_snapshot_id", T.LongType()),
            ]
        )

        def tag(df: DataFrame, change: str, ordinal: int, snap_id: int) -> DataFrame:
            return df.select(
                *[F.col(f.name) for f in projected.fields],
                F.lit(change).alias("_change_type"),
                F.lit(ordinal).cast("int").alias("_change_ordinal"),
                F.lit(snap_id).cast("long").alias("_change_snapshot_id"),
            )

        def by_content(snap: Optional[Snapshot]):
            out = {0: {}, 1: {}, 2: {}}
            if snap is not None:
                for e in self.table._live_entries(snap):
                    d = e["data_file"]
                    out[d.get("content", 0)][d["file_path"]] = d
            return out

        def read_files(file_map, paths, with_lineage: bool = False) -> DataFrame:
            """Rows of data files, each under its commit-time schema
            projected by field id (a column renamed inside the scan range
            must not read as NULL); ``with_lineage`` keeps (_ips_file,
            _ips_pos)."""
            tasks = [FileScanTask(file_map[p], AlwaysTrue()) for p in paths]
            if with_lineage and any(t.data_file.get("file_format", "PARQUET").upper() != "PARQUET" for t in tasks):
                raise NotImplementedError(
                    "changelog position-delete recovery over non-parquet files needs "
                    "Spark's parquet-only _metadata.row_index"
                )
            return _read_tasks(spark, meta, tasks, schema, lineage=with_lineage)

        parts: List[DataFrame] = []
        prev = by_content(
            meta.snapshot_by_id(chain[0].parent_snapshot_id)
            if chain and chain[0].parent_snapshot_id is not None
            else None
        )
        for ordinal, snap in enumerate(chain):
            cur = by_content(snap)
            if snap.operation == Operation.REPLACE:
                prev = cur
                continue
            added_data = sorted(set(cur[0]) - set(prev[0]))
            removed_data = sorted(set(prev[0]) - set(cur[0]))
            added_pos = sorted(set(cur[1]) - set(prev[1]))
            added_eq = set(cur[2]) - set(prev[2])
            if added_eq:
                raise NotImplementedError(
                    "changelog over equality-delete snapshots is not supported "
                    "(same limitation as Iceberg's changelog reader)"
                )
            if added_data:
                parts.append(tag(read_files(cur[0], added_data), "insert", ordinal, snap.snapshot_id))
            if removed_data:
                parts.append(tag(read_files(prev[0], removed_data), "delete", ordinal, snap.snapshot_id))
            if added_pos:
                dels = _pos_deletes_df(spark, added_pos)
                # the (file, pos) pairs reference data files live in the
                # parent; only the FILE LIST reaches the driver (metadata
                # scale, like the scan plan itself)
                ref_paths = sorted(
                    {r[0] for r in dels.select("file_path").distinct().collect()}
                )
                if ref_paths:
                    # delete files store URI-form paths (file:/...) while
                    # manifests hold plain paths — match scheme-normalized
                    by_norm = {
                        _strip_uri_scheme(p): d for p, d in {**prev[0], **cur[0]}.items()
                    }
                    ref_map = {
                        p: by_norm.get(_strip_uri_scheme(p), {"file_path": p}) for p in ref_paths
                    }
                    src = read_files(ref_map, ref_paths, with_lineage=True)
                    del_bytes = sum(
                        cur[1][p].get("file_size_in_bytes", -1) for p in added_pos
                    ) if all(cur[1][p].get("file_size_in_bytes", -1) >= 0 for p in added_pos) else None
                    deleted_rows = src.join(
                        _maybe_broadcast(dels, del_bytes, _delete_broadcast_threshold(meta)),
                        (F.col("_ips_file") == dels.file_path) & (F.col("_ips_pos") == dels.pos),
                        "inner",
                    )
                    parts.append(tag(deleted_rows, "delete", ordinal, snap.snapshot_id))
            prev = cur

        if not parts:
            return spark.createDataFrame([], empty_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class StaticTable(Table):
    """Open a table directly from its metadata JSON, no catalog
    (reference table/__init__.py:1782-1826)."""

    @classmethod
    def from_metadata(cls, metadata_location: str, spark: SparkSession) -> "StaticTable":
        from ..io import fileio

        hint = posixpath.join(metadata_location, "metadata", "version-hint.text")
        if not metadata_location.endswith(".json") and fileio.exists(hint, spark):
            v = fileio.read_text(hint, spark).strip()
            if "/" in v:
                # full path form: write.metadata.path redirected metadata
                # but the hint file stays at the probe location
                metadata_location = v
            else:
                # hint holds the metadata file basename (older layouts: a number)
                basename = v if v.endswith(".metadata.json") else f"v{v}.metadata.json"
                metadata_location = posixpath.join(metadata_location, "metadata", basename)
        metadata = TableMetadata.read(metadata_location)
        return cls(("static", os.path.basename(metadata.location)), metadata, metadata_location, _StaticCatalog(), spark)


class _StaticCatalog:
    def _commit_table(self, table: Table, metadata: TableMetadata) -> None:
        raise CommitFailedException("static tables are read-only")

    def load_table(self, identifier):
        raise NotImplementedError
