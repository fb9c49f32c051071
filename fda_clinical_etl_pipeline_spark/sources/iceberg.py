"""Apache Iceberg v2 table format — write-side metadata tree + reader,
no Iceberg jar required.

Second open-table-format twin next to ``delta_log`` (the reference's
one Spark feature is a versioned table with time travel —
`/root/reference/hudi/register_hudi.py:56-77`). The Iceberg spec
(iceberg.apache.org/spec, format-version 2) is a metadata TREE rather
than a log: an atomic ``metadata.json`` names the current snapshot,
each snapshot names a manifest-list Avro file, each manifest list
names manifest Avro files, and each manifest lists data files. This
module writes exactly that tree — using this repo's own spec-conformant
Avro OCF encoder (``sources/avro_ocf``) for the manifest layer, with
the field-ids the spec assigns (500-517 for manifest lists, 0-4 and
100-104/134 for manifest entries) — under the HadoopTables filesystem
catalog convention (``metadata/vN.metadata.json`` +
``version-hint.text``), so an external Iceberg reader (Spark runtime
jar, pyiceberg, Trino, DuckDB's iceberg extension) can load the table
by path. None of those ship in this environment, so tests verify (a)
field-by-field structural conformance of metadata.json and both Avro
schemas against the spec and (b) semantics (append accumulation,
overwrite, snapshot isolation, time travel) through the built-in
tree-replay reader — the same verification posture as the Delta twin.

Scope (documented): flat primitive schemas, partition specs with
identity AND hidden-partitioning transforms — bucket[N] (spec
Murmur3), truncate[W], year/month/day/hour — (hive-layout data files
+ typed partition structs in manifests, log-only pruning projected
through the transforms via ``source_pruned_files``/``read_eq``),
append/overwrite snapshots with ADDED-status entries, time travel by
snapshot id and timestamp, add-column schema evolution (spec rules:
fresh field id, new schema-id, old files read NULL), snapshot
expiration.
Per-file
column bounds ARE carried (spec single-value serialization) and drive
``skipped_files``/``read_range`` data skipping.

At 100 TB the metadata tree stays KBs-to-MBs (it scales with FILES,
not rows) and is written driver-side; data movement is ordinary
distributed parquet writes, exactly as in the Delta twin.
"""

from __future__ import annotations

import json
import os
import re
import struct as _struct
import time
import urllib.parse
import uuid

import pandas as pd  # noqa: F401 — module scope so pandas_udf type
# hints in _bucket_column resolve under `from __future__ annotations`

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avro_ocf import decode_ocf, encode_ocf
from .delta_log import ConcurrentModificationError

# Stats-driven broadcast ceiling for reader-side delete application:
# manifest record counts bound the delete relation exactly (metadata
# only), so a set under this many rows broadcasts instead of forcing a
# both-sides-shuffled join on the carried data files. ~1M (file, pos)
# pairs is tens of MB framed — far under Spark's broadcast cap, and
# env-tunable for bigger executors.
_BROADCAST_DELETE_ROWS = int(
    os.environ.get("SPARK_GRAFT_BCAST_DELETE_ROWS", "1000000")
)
# Bytes companion to the row bound: rows alone under-estimates wide
# relations (1M (fname,pos) pairs are ~50-100 MB framed; equality-
# delete value rows can be arbitrarily wide strings), so the broadcast
# hint additionally requires the manifests' file_size_in_bytes total
# to sit under this cap. Unknown sizes disable the hint.
_BROADCAST_DELETE_BYTES = int(
    os.environ.get("SPARK_GRAFT_BCAST_DELETE_BYTES",
                   str(32 * 1024 * 1024))
)
# Literal-inline ceiling: delete sets provably under this many rows
# (parquet footers / manifest DV cardinality — no data read) are read
# ON THE DRIVER and applied as a literal predicate instead of a join,
# removing the broadcast-build job per delete relation. The read is
# the audited bounded-collect class (manifests are already parsed
# driver-side); bigger sets keep the join. 0 disables.
_INLINE_DELETE_ROWS = int(
    os.environ.get("SPARK_GRAFT_INLINE_DELETE_ROWS", "2000")
)

_ICEBERG_TYPES = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.DateType: "date",
    T.BinaryType: "binary",
    # Iceberg V3: the open semi-structured type (operators/variant.py
    # builds these columns); creating a table with one auto-bumps
    # format-version to 3, the same quiet upgrade the first DV write
    # performs (older readers refuse via the version gate, by design)
    T.VariantType: "variant",
}


def _iceberg_schema(schema: T.StructType) -> dict:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        it = _ICEBERG_TYPES.get(type(f.dataType))
        if it is None:
            raise ValueError(
                f"unsupported Iceberg column type {f.dataType} "
                f"(flat primitive columns only in this writer)"
            )
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": it}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


# Avro schema of a manifest-list entry (spec: "Manifest Lists", v2
# required fields with their reserved field-ids)
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# Avro schema of a manifest entry (spec: "Manifests"; the r102
# partition struct is empty for the unpartitioned spec)
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102,
                     "type": {"type": "record", "name": "r102",
                              "fields": []}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "lower_bounds", "field-id": 125,
                     "default": None,
                     "type": ["null", {
                         "type": "array", "logicalType": "map",
                         "items": {
                             "type": "record", "name": "k126_v127",
                             "fields": [
                                 {"name": "key", "type": "int",
                                  "field-id": 126},
                                 {"name": "value", "type": "bytes",
                                  "field-id": 127},
                             ],
                         },
                     }]},
                    {"name": "upper_bounds", "field-id": 128,
                     "default": None,
                     "type": ["null", {
                         "type": "array", "logicalType": "map",
                         "items": {
                             "type": "record", "name": "k129_v130",
                             "fields": [
                                 {"name": "key", "type": "int",
                                  "field-id": 129},
                                 {"name": "value", "type": "bytes",
                                  "field-id": 130},
                             ],
                         },
                     }]},
                    # spec field 135: equality-delete files name the
                    # field ids their rows match on (content=2 only)
                    {"name": "equality_ids", "field-id": 135,
                     "default": None,
                     "type": ["null", {
                         "type": "array", "items": "int",
                         "element-id": 136,
                     }]},
                    # spec fields 143-145 (format-version 3): deletion
                    # vectors are content=1 entries whose file_path is
                    # a PUFFIN file; these three address ONE
                    # deletion-vector-v1 blob inside it and name the
                    # single data file it applies to
                    {"name": "referenced_data_file", "field-id": 143,
                     "default": None, "type": ["null", "string"]},
                    {"name": "content_offset", "field-id": 144,
                     "default": None, "type": ["null", "long"]},
                    {"name": "content_size_in_bytes", "field-id": 145,
                     "default": None, "type": ["null", "long"]},
                    # spec field 142 (format-version 3, Row Lineage):
                    # the id of the FIRST row in this data file; row N
                    # inherits _row_id = first_row_id + N unless the
                    # file materializes an explicit _row_id column
                    {"name": "first_row_id", "field-id": 142,
                     "default": None, "type": ["null", "long"]},
                ],
            },
        },
    ],
}


# v3 Row Lineage reserved columns (spec "Reserved Field IDs"):
# _row_id identifies a row across rewrites; _last_updated_sequence_
# number records the commit that last changed it. Both INHERIT from
# file metadata (first_row_id + position / the file's data sequence
# number) when a data file carries no materialized column.
_ROW_ID_COL = "_row_id"
_LUSN_COL = "_last_updated_sequence_number"
_LINEAGE_FIELDS = ((_ROW_ID_COL, 2147483540), (_LUSN_COL, 2147483539))


def _bound_bytes(value, iceberg_type: str) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D):
    little-endian fixed width for numerics, UTF-8 for strings."""
    import struct as _struct

    if value is None:
        return None
    if iceberg_type == "int":
        return _struct.pack("<i", int(value))
    if iceberg_type == "long":
        return _struct.pack("<q", int(value))
    if iceberg_type == "float":
        return _struct.pack("<f", float(value))
    if iceberg_type == "double":
        return _struct.pack("<d", float(value))
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type == "date":
        import datetime

        return _struct.pack(
            "<i", (value - datetime.date(1970, 1, 1)).days
        )
    if iceberg_type in ("timestamp", "timestamptz"):
        import datetime

        if value.tzinfo is not None:
            value = value.astimezone(
                datetime.timezone.utc
            ).replace(tzinfo=None)
        micros = int(
            (value - datetime.datetime(1970, 1, 1)).total_seconds()
            * 1e6
        )
        return _struct.pack("<q", micros)
    return None  # binary: no bounds


def _bound_value(raw: bytes, iceberg_type: str):
    import struct as _struct

    # width-tolerant for numerics: after a spec type promotion
    # (int -> long, float -> double) files written pre-promotion keep
    # their narrower single-value serialization; decode by the actual
    # byte width and promote the Python value
    if iceberg_type in ("int", "long"):
        return int.from_bytes(raw, "little", signed=True)
    if iceberg_type in ("float", "double"):
        return _struct.unpack("<f" if len(raw) == 4 else "<d", raw)[0]
    if iceberg_type == "string":
        return raw.decode("utf-8")
    return None

_ADDED = 1  # manifest entry status
_EXISTING = 0

# Decoded-OCF memo for IMMUTABLE metadata files (manifests, manifest
# lists — the spec never rewrites one in place; orphan cleanup only
# deletes). Keyed by (path, size, mtime_ns) so a recreated path with
# different bytes can never serve stale rows. Bounded FIFO.
_OCF_CACHE: dict[tuple, list[dict]] = {}
_OCF_CACHE_MAX = 1024


def _ocf_rows(path: str) -> list[dict]:
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    rows = _OCF_CACHE.get(key)
    if rows is None:
        _, rows = decode_ocf(open(path, "rb").read())
        if len(_OCF_CACHE) >= _OCF_CACHE_MAX:
            _OCF_CACHE.pop(next(iter(_OCF_CACHE)))
        _OCF_CACHE[key] = rows
    return rows

_AVRO_OF_ICEBERG = {
    "long": "long", "int": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    # spec: date is an int of days since epoch (Avro logical date)
    "date": {"type": "int", "logicalType": "date"},
}


# ------------------------------------------- partition transforms
# Spec (Partition Transforms + Appendix B): hidden partitioning
# derives partition values from source columns so queries on the
# SOURCE column prune without knowing the layout. bucket[N] uses the
# 32-bit Murmur3 (x86, seed 0) of the value's spec serialization:
# int/long/date/timestamp hash as the little-endian 8-byte long,
# strings as UTF-8 bytes.

def _mmh3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit, unsigned result — the spec's bucket hash.
    Pinned against Appendix B test vectors in test_iceberg_hidden."""
    c1, c2 = 0xcc9e2d51, 0x1b873593
    h = seed
    n4 = len(data) & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _mmh3_long(v: int) -> int:
    return _mmh3_32(_struct.pack("<q", v))


_PARTITION_ENTRY_RE = re.compile(
    r"^\s*(?:(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(year|month|day|hour)\s*\(\s*(\w+)\s*\)"
    r"|(\w+))\s*$"
)

_TEMPORAL_SOURCES = ("date", "timestamp", "timestamptz")
_BUCKET_SOURCES = ("int", "long", "string") + _TEMPORAL_SOURCES


def _parse_partition_entry(entry: str) -> tuple[str, str]:
    """'bucket(16, k)' -> ('bucket[16]', 'k'); 'day(ts)' ->
    ('day', 'ts'); 'k' -> ('identity', 'k') — the spec's transform
    spelling with SQL-ish input syntax."""
    m = _PARTITION_ENTRY_RE.match(entry)
    if not m:
        raise ValueError(f"unparseable partition entry {entry!r}")
    if m.group(1):
        return f"{m.group(1)}[{int(m.group(2))}]", m.group(3)
    if m.group(4):
        return m.group(4), m.group(5)
    return "identity", m.group(6)


def _partition_field_name(transform: str, col: str) -> str:
    if transform == "identity":
        return col
    base = transform.split("[", 1)[0]
    suffix = "trunc" if base == "truncate" else base
    return f"{col}_{suffix}"


def _transform_result_type(transform: str, source_type: str) -> str:
    """Result type per the spec's transform table."""
    if transform == "identity":
        return source_type
    base = transform.split("[", 1)[0]
    if base == "bucket":
        if source_type not in _BUCKET_SOURCES:
            raise ValueError(
                f"bucket transform unsupported over {source_type}"
            )
        return "int"
    if base == "truncate":
        if source_type not in ("int", "long", "string"):
            raise ValueError(
                f"truncate transform unsupported over {source_type}"
            )
        return source_type
    if base in ("year", "month", "hour"):
        if source_type not in _TEMPORAL_SOURCES or (
            base == "hour" and source_type == "date"
        ):
            raise ValueError(
                f"{base} transform unsupported over {source_type}"
            )
        return "int"
    if base == "day":
        if source_type not in _TEMPORAL_SOURCES:
            raise ValueError(
                f"day transform unsupported over {source_type}"
            )
        return "date"
    raise ValueError(f"unknown transform {transform!r}")


def _np_mmh3_long(vals):
    """Vectorized Murmur3 x86-32 over little-endian 8-byte longs —
    the bucket hash stays a numpy kernel inside the Arrow batch, no
    per-row Python in the int/long/temporal hot path."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    k1 = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    k2 = (v >> np.uint64(32)).astype(np.uint32)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    with np.errstate(over="ignore"):
        h = np.zeros(len(v), dtype=np.uint32)
        for k in (k1, k2):
            k = rotl(k * c1, 15) * c2
            h = rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h


def _bucket_column(n: int, source_type: str, col):
    """Spark Column: spec bucket[N] of ``col``. Arrow-batched pandas
    UDF — numpy-vectorized for fixed-width sources, per-value only
    for strings (variable-length Murmur3)."""
    from pyspark.sql.functions import pandas_udf

    if source_type == "string":
        @pandas_udf("int")
        def b(s: pd.Series) -> pd.Series:
            out = [
                None if v is None
                else (_mmh3_32(str(v).encode()) & 0x7FFFFFFF) % n
                for v in s
            ]
            return pd.Series(out, dtype="Int32")
    else:
        @pandas_udf("int")
        def b(s: pd.Series) -> pd.Series:
            import numpy as np

            mask = s.isna()
            if source_type == "date":
                vals = pd.to_datetime(s, errors="coerce").to_numpy(
                    "datetime64[D]"
                ).astype("int64")
            elif source_type in ("timestamp", "timestamptz"):
                vals = pd.to_datetime(s, errors="coerce").to_numpy(
                    "datetime64[us]"
                ).astype("int64")
            else:
                vals = s.fillna(0).to_numpy("int64")
            vals = np.where(mask.to_numpy(), 0, vals)
            h = _np_mmh3_long(vals)
            out = pd.Series(
                ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n))
                .astype("int32"),
                dtype="Int32",
            )
            out[mask.to_numpy()] = None
            return out
    return b(col)


_EPOCH_DAY = None  # lazy datetime.date(1970, 1, 1)


def _days_since_epoch(d) -> int:
    import datetime

    if isinstance(d, datetime.datetime):
        d = d.date()
    return (d - datetime.date(1970, 1, 1)).days


def _micros_since_epoch(ts) -> int:
    import datetime

    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return int(
        (ts - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6
    )


def _transform_literal(transform: str, value, source_type: str):
    """Driver-side transform of a predicate literal — what projects a
    query on the SOURCE column into a partition-struct match for
    pruning (metadata-only, the point of hidden partitioning)."""
    import datetime

    if value is None:
        return None
    if transform == "identity":
        return value
    base = transform.split("[", 1)[0]
    if base == "bucket":
        n = int(transform[len("bucket["):-1])
        if source_type == "string":
            h = _mmh3_32(str(value).encode())
        elif source_type == "date":
            h = _mmh3_long(_days_since_epoch(value))
        elif source_type in ("timestamp", "timestamptz"):
            h = _mmh3_long(_micros_since_epoch(value))
        else:
            h = _mmh3_long(int(value))
        return (h & 0x7FFFFFFF) % n
    if base == "truncate":
        w = int(transform[len("truncate["):-1])
        if source_type == "string":
            return str(value)[:w]
        return int(value) - (int(value) % w + w) % w
    if isinstance(value, datetime.datetime):
        dt = value
        if dt.tzinfo is not None:
            dt = dt.astimezone(
                datetime.timezone.utc
            ).replace(tzinfo=None)
    elif isinstance(value, datetime.date):
        dt = datetime.datetime(value.year, value.month, value.day)
    else:
        raise ValueError(
            f"{base} transform needs a date/datetime literal"
        )
    if base == "year":
        return dt.year - 1970
    if base == "month":
        return (dt.year - 1970) * 12 + dt.month - 1
    if base == "day":
        # result type is date: partition structs carry date objects
        # (the OCF codec serializes them as the spec's int days)
        return dt.date()
    if base == "hour":
        return _micros_since_epoch(dt) // 3_600_000_000
    raise ValueError(f"unknown transform {transform!r}")


def _build_spec_fields(
    schema_fields: list[dict], partition_by: list[str],
    first_pid: int = 1000,
) -> list[dict]:
    """Parse partition entries ('k', 'bucket(16, k)', 'day(ts)', ...)
    into spec partition fields, validating sources and transform/type
    compatibility."""
    by_name = {f["name"]: f for f in schema_fields}
    out = []
    pid = first_pid
    for entry in partition_by:
        transform, col = _parse_partition_entry(entry)
        if col not in by_name:
            raise ValueError(
                f"partition source column {col!r} not in schema"
            )
        src = by_name[col]
        _transform_result_type(transform, src["type"])  # validates
        out.append({
            "name": _partition_field_name(transform, col),
            "transform": transform,
            "source-id": src["id"],
            "field-id": pid,
        })
        pid += 1
    return out


def _manifest_entry_schema(partition_fields: list[dict]) -> dict:
    """Manifest-entry Avro schema with the table's partition struct
    typed into r102 (identity transforms; field-ids 1000+ per spec
    convention). Unpartitioned tables get the empty r102."""
    import copy

    schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    df_fields = schema["fields"][4]["type"]["fields"]
    part = next(f for f in df_fields if f["name"] == "partition")
    part["type"]["fields"] = [
        {
            "name": pf["name"],
            "type": ["null", _AVRO_OF_ICEBERG[pf["ice_type"]]],
            "default": None,
            "field-id": pf["field-id"],
        }
        for pf in partition_fields
    ]
    return schema


class IcebergTable:
    """An Iceberg v2 table at a filesystem ``path`` (HadoopTables
    convention: ``metadata/vN.metadata.json`` + ``version-hint.text``)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")

    # ------------------------------------------------------ metadata IO
    def current_version(self) -> int:
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if not os.path.isfile(hint):
            return -1
        return int(open(hint).read().strip())

    def _metadata_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def metadata(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v < 0:
            raise ValueError(f"no iceberg table at {self.path}")
        return json.load(open(self._metadata_path(v)))

    def _commit_metadata(self, version: int, meta: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        # exclusive create = the atomic-swap primitive HadoopTables
        # uses on posix filesystems; the hint file is advisory
        with open(self._metadata_path(version), "x") as f:
            json.dump(meta, f, indent=1)
        with open(os.path.join(self.meta_dir, "version-hint.text"),
                  "w") as f:
            f.write(str(version))
        # a pending one-shot commit summary is consumed by success
        # (lost-swap retries rebuild the snapshot and still carry it)
        self._pending_summary = None

    def set_commit_summary(self, props: dict[str, str]) -> None:
        """Extra key/value properties stamped into the NEXT successful
        snapshot's ``summary`` (the spec's summary map is open) — how
        a streaming sink records (query-id, batch-id) atomically with
        the data it wrote, the anchor for exactly-once replay dedup."""
        self._pending_summary = {str(k): str(v) for k, v in props.items()}

    def _take_summary(self) -> dict[str, str]:
        return getattr(self, "_pending_summary", None) or {}

    def last_streaming_batch(self, app_id: str) -> int | None:
        """High-water ``streaming-batch-id`` among snapshots whose
        summary carries ``streaming-app-id == app_id``. Metadata-only;
        keep snapshot retention above the streaming restart window
        (expire_snapshots removes the dedup anchors with the
        snapshots)."""
        best = None
        for s in self.metadata()["snapshots"]:
            sm = s.get("summary", {})
            if sm.get("streaming-app-id") != app_id:
                continue
            try:
                b = int(sm["streaming-batch-id"])
            except (KeyError, ValueError):
                continue
            best = b if best is None or b > best else best
        return best

    # ------------------------------------------------- partitioning
    def _partition_fields(self, meta: dict | None = None,
                          spec: dict | None = None) -> list[dict]:
        """Partition fields of a spec (default: the table's default
        spec), resolved against the schema: [{name, ice_type (the
        transform RESULT type — what the partition struct stores),
        field-id, source-id, transform, source_name, source_type}]."""
        meta = meta or self.metadata()
        if spec is None:
            spec = meta["partition-specs"][meta["default-spec-id"]]
        by_id = {
            f["id"]: f
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        }
        out = []
        for pf in spec.get("fields", []):
            src = by_id[pf["source-id"]]
            transform = pf.get("transform", "identity")
            out.append({
                "name": pf["name"],
                "ice_type": _transform_result_type(
                    transform, src["type"]
                ),
                "field-id": pf["field-id"],
                "source-id": pf["source-id"],
                "transform": transform,
                "source_name": src["name"],
                "source_type": src["type"],
            })
        return out

    @staticmethod
    def _transform_expr(pf: dict):
        """Spark Column computing ``pf``'s partition value from its
        source column — built-ins for everything except bucket (whose
        spec Murmur3 has no JVM twin; Arrow-batched numpy kernel)."""
        t, c = pf["transform"], pf["source_name"]
        st = pf["source_type"]
        if t == "identity":
            return F.col(c)
        base = t.split("[", 1)[0]
        if base == "bucket":
            return _bucket_column(int(t[7:-1]), st, F.col(c))
        if base == "truncate":
            w = int(t[9:-1])
            if st == "string":
                return F.substring(F.col(c), 1, w)
            # W * floor(v / W): spec floor semantics for negatives
            return (
                F.col(c) - ((F.col(c) % w) + w) % w
            ).cast("long" if st == "long" else "int")
        if base == "year":
            return (F.year(F.col(c)) - F.lit(1970)).cast("int")
        if base == "month":
            return (
                (F.year(F.col(c)) - F.lit(1970)) * 12
                + F.month(F.col(c)) - 1
            ).cast("int")
        if base == "day":
            return F.to_date(F.col(c))
        if base == "hour":
            # epoch-seconds floor-div: timestamps cast to long are
            # seconds since epoch
            return F.floor(
                F.col(c).cast("long") / F.lit(3600)
            ).cast("int")
        raise ValueError(f"unknown transform {t!r}")

    @staticmethod
    def _hive_value(raw: str, ice_type: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        if ice_type in ("int", "long"):
            return int(raw)
        if ice_type in ("float", "double"):
            return float(raw)
        if ice_type == "boolean":
            return raw.lower() == "true"
        if ice_type == "date":
            # hive dir carries the human-readable ISO date; the OCF
            # codec serializes it as the spec's int days-since-epoch
            # (Avro logical date)
            import datetime

            return datetime.date.fromisoformat(raw)
        return raw

    # ----------------------------------------------------- data files
    def _write_data_files(self, df: DataFrame) -> list[dict]:
        """Distributed parquet write into data/; returns one data_file
        struct per written file with its exact record count and
        per-column lower/upper bounds (ONE grouped job over
        input_file_name, never a job per file). Bounds use the spec's
        single-value binary serialization keyed by field id — the
        stats external Iceberg readers use for data skipping, and what
        ``skipped_files``/``read_range`` prune on here."""
        if self.current_version() >= 0:
            # field ids come from TABLE metadata by name — positional
            # assignment would drift after a drop_column leaves id gaps
            meta = self.metadata()
            by_name = {
                f["name"]: f
                for f in meta["schemas"][meta["current-schema-id"]]
                ["fields"]
            }
            ice_fields = [
                {"id": by_name[c]["id"], "name": c,
                 "type": by_name[c]["type"]}
                for c in df.columns if c in by_name
            ]
            # v3 Row Lineage: rewritten files MATERIALIZE the reserved
            # lineage columns (spec reserved field ids) so row ids
            # survive compaction/upsert; inherit-only files omit them
            for name, fid in _LINEAGE_FIELDS:
                if name in df.columns:
                    ice_fields.append(
                        {"id": fid, "name": name, "type": "long"}
                    )
        else:
            ice_fields = _iceberg_schema(df.schema)["fields"]
        pfields = (
            self._partition_fields() if self.current_version() >= 0
            else []
        )
        pnames = [pf["name"] for pf in pfields]
        staging = os.path.join(self.path, ".staging", uuid.uuid4().hex)
        # parquet field ids ride on the written files (the spec's
        # column-resolution mechanism) so rename/drop evolution can
        # re-resolve old files by id instead of by name
        tagged = df.select(*[
            F.col(f["name"]).alias(
                f["name"], metadata={"parquet.field.id": f["id"]}
            )
            for f in ice_fields
        ])
        # identity-partition columns STAY IN THE DATA FILES (the spec:
        # Iceberg data files carry every schema column; the directory
        # layout is organization, not storage). Staging partitions on
        # HELPER copies so Spark's partitionBy cannot strip the real
        # columns — what makes reads layout-independent and partition
        # SPEC EVOLUTION possible (files from older specs still carry
        # the newer spec's source columns as data).
        for pf in pfields:
            tagged = tagged.withColumn(
                f"_part_{pf['name']}", self._transform_expr(pf)
            )
        writer = tagged.write.mode("overwrite")
        if pnames:
            writer = writer.partitionBy(*[
                f"_part_{pn}" for pn in pnames
            ])
        writer.parquet(staging)
        has_parquet = any(
            fn.endswith(".parquet")
            for _r, _d, fns in os.walk(staging) for fn in fns
        )
        if not has_parquet:  # 0-row write (e.g. delete-all rewrite)
            import shutil

            # Scope cleanup to THIS call's uuid staging dir: the
            # shared .staging parent may hold another in-flight
            # writer's staged files (concurrent appends rebase at the
            # commit layer; deleting their stage here would turn a
            # recoverable conflict into silent data loss).
            shutil.rmtree(staging, ignore_errors=True)
            return []
        aggs = [F.count(F.lit(1)).alias("n")]
        for f in ice_fields:
            # binary and variant carry no single-value bounds
            if f["type"] not in ("binary", "variant"):
                aggs.append(F.min(f["name"]).alias(f"_lo_{f['id']}"))
                aggs.append(F.max(f["name"]).alias(f"_hi_{f['id']}"))
        stats = {}
        scan = self.spark.read.option("basePath", staging).parquet(
            staging
        )
        for r in scan.groupBy(
            F.input_file_name().alias("f")
        ).agg(*aggs).collect():
            # input_file_name() is a URI: percent-decoded it yields the
            # on-disk path even when a hive partition dir name itself
            # contains escaped characters ('%', space — Spark escapes
            # those in the DIR name, and the URI encodes the '%'
            # again). Keying on the raw URI relpath would miss those
            # files and silently drop their rows from the manifest.
            local = urllib.parse.unquote(
                urllib.parse.urlparse(r["f"]).path
            )
            stats[os.path.relpath(local, staging)] = r
        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        parquet_files = []
        for root, _dirs, files in os.walk(staging):
            reldir = os.path.relpath(root, staging)
            for fn in files:
                if fn.endswith(".parquet"):
                    parquet_files.append(
                        ("" if reldir == "." else reldir, fn)
                    )
        out = []
        for reldir, fn in sorted(parquet_files):
            rel = os.path.join(reldir, fn) if reldir else fn
            r = stats.get(rel)
            if r is None:
                # Only a genuinely empty part file may lack a stats
                # row (input_file_name groups only files with rows).
                # Check the footer: anything else is a keying bug and
                # silently skipping it would lose data.
                full = os.path.join(staging, reldir, fn)
                try:
                    import pyarrow.parquet as pq

                    n_rows = pq.ParquetFile(full).metadata.num_rows
                except OSError:
                    # pyarrow (16.x) cannot parse footers carrying
                    # the VARIANT logical type — count via Spark
                    n_rows = self.spark.read.parquet(full).count()
                if n_rows:
                    raise RuntimeError(
                        f"staged parquet file {rel!r} has {n_rows} "
                        "rows but no stats row — file-key mismatch; "
                        "refusing to drop it from the manifest"
                    )
                continue  # 0-row part file
            lower, upper = [], []
            for f in ice_fields:
                if f["type"] in ("binary", "variant"):
                    continue
                lo = _bound_bytes(r[f"_lo_{f['id']}"], f["type"])
                hi = _bound_bytes(r[f"_hi_{f['id']}"], f["type"])
                if lo is not None:
                    lower.append({"key": f["id"], "value": lo})
                if hi is not None:
                    upper.append({"key": f["id"], "value": hi})
            part_vals: dict = {}
            for seg in (reldir.split(os.sep) if reldir else []):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    if k.startswith("_part_"):
                        k = k[len("_part_"):]
                    pf = next(
                        (x for x in pfields if x["name"] == k), None
                    )
                    if pf is not None:
                        part_vals[k] = self._hive_value(
                            urllib.parse.unquote(v), pf["ice_type"]
                        )
            base = f"{uuid.uuid4().hex[:12]}-{fn}"
            dst_rel = (
                os.path.join(reldir, base) if reldir else base
            )
            dst = os.path.join(data_dir, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(staging, reldir, fn), dst)
            out.append(
                {
                    "content": 0,  # data (not deletes)
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": part_vals,
                    "record_count": int(r["n"]),
                    "file_size_in_bytes": os.path.getsize(dst),
                    "lower_bounds": lower,
                    "upper_bounds": upper,
                }
            )
        import shutil

        # Only this call's uuid dir — never the shared .staging parent
        # (a concurrent writer may still be staging there).
        shutil.rmtree(staging, ignore_errors=True)
        return out

    # ------------------------------------------------------- commits
    # ---------------------------------------- position deletes (v2)
    _DELETE_PATH_FID = 2147483546  # spec-reserved field ids
    _DELETE_POS_FID = 2147483545

    def _write_position_delete_files(
        self, deletes: DataFrame
    ) -> list[dict]:
        """Write v2 position-delete parquet files into data/ and
        return their data_file structs (content=1).

        ``deletes`` columns: ``file_path`` (the referenced data file's
        manifest path), ``pos`` (row position), ``_pdir`` (the
        referenced file's partition reldir, '' at the root) — delete
        files are partitioned like the data they reference, as the
        spec requires, and rows are sorted by (file_path, pos) within
        each file. The spec's reserved field ids ride on the parquet
        schema so external readers resolve the columns by id."""
        import pyarrow.parquet as pq

        staging = os.path.join(self.path, ".staging", uuid.uuid4().hex)
        out_df = deletes.select(
            F.col("file_path").alias(
                "file_path",
                metadata={"parquet.field.id": self._DELETE_PATH_FID},
            ),
            F.col("pos").cast("long").alias(
                "pos",
                metadata={"parquet.field.id": self._DELETE_POS_FID},
            ),
            "_pdir",
        )
        (
            out_df.repartition(F.col("_pdir"))
            # _pdir leads the sort so it satisfies the dynamic-
            # partition writer's required ordering — otherwise the
            # writer re-sorts by _pdir alone and scrambles the spec's
            # (file_path, pos) order inside each delete file
            .sortWithinPartitions("_pdir", "file_path", "pos")
            .write.mode("overwrite")
            .partitionBy("_pdir")
            .parquet(staging)
        )
        pfields = self._partition_fields()
        data_dir = os.path.join(self.path, "data")
        entries: list[dict] = []
        for root, _dirs, files in os.walk(staging):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                reldir = os.path.relpath(root, staging)
                vals = dict(
                    seg.split("=", 1)
                    for seg in (reldir.split(os.sep)
                                if reldir != "." else [])
                    if "=" in seg
                )
                pdir = urllib.parse.unquote(vals.get("_pdir", ""))
                if pdir == "__HIVE_DEFAULT_PARTITION__":
                    pdir = ""
                part_vals: dict = {}
                for seg in pdir.split("/") if pdir else []:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        if k.startswith("_part_"):
                            k = k[len("_part_"):]
                        pf = next(
                            (x for x in pfields if x["name"] == k),
                            None,
                        )
                        if pf is not None:
                            part_vals[k] = self._hive_value(
                                urllib.parse.unquote(v),
                                pf["ice_type"],
                            )
                base = f"{uuid.uuid4().hex[:12]}-delete-{fn}"
                dst = os.path.join(
                    data_dir, pdir, base
                ) if pdir else os.path.join(data_dir, base)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(root, fn), dst)
                n_rows = pq.ParquetFile(dst).metadata.num_rows
                if n_rows == 0:
                    os.remove(dst)
                    continue
                entries.append({
                    "content": 1,  # POSITION_DELETES
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": part_vals,
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(dst),
                    "lower_bounds": None,
                    "upper_bounds": None,
                })
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _matched_to_delete_rows(self, matched: DataFrame) -> DataFrame:
        """Map matched (``__fname``, ``__pos``) rows to the delete-file
        row shape: broadcast-join the basename back to the manifest's
        file path + partition reldir (O(live files) driver-side map —
        the same metadata a reader already holds)."""
        data_dir = os.path.join(self.path, "data")
        mapping = [
            (
                os.path.basename(p),
                p,
                os.path.dirname(
                    os.path.relpath(p, data_dir)
                ).replace(os.sep, "/"),
            )
            for p in self._files_of_snapshot(
                self._snapshot_by(self.metadata(), None)
            )
        ]
        map_df = self.spark.createDataFrame(
            mapping, "__fname string, file_path string, _pdir string"
        )
        return matched.join(
            F.broadcast(map_df), "__fname"
        ).select("file_path", F.col("__pos").alias("pos"), "_pdir")

    # ---------------------------------------- deletion vectors (v3)
    def _commit_dv(self, delete_rows: DataFrame,
                   operation: str = "delete") -> int:
        """Format-version 3 delete commit: deleted positions become
        `deletion-vector-v1` blobs in ONE new Puffin file (one blob
        per referenced data file), addressed from a content=1 manifest
        via spec fields 143-145. The spec's one-live-DV-per-data-file
        rule: when a referenced file already carries a DV, its
        positions are merged into the new vector and the old entry is
        dropped (the containing delete manifest is rewritten with its
        surviving rows; untouched manifests carry forward whole).

        Scale note: positions are collected per referenced file to
        build the bitmaps — O(this commit's deleted rows), the same
        bound MOR gives the delete itself; the Puffin write is one
        driver-side file of KB-scale bitmaps, metadata-class IO (a
        cluster-scale writer shards blobs per manifest the same way
        data files shard)."""
        from .puffin import DV_BLOB_TYPE, decode_dv_payload, \
            encode_dv_payload, write_puffin

        v = self.current_version()
        meta = self.metadata(v)
        snap = self._snapshot_by(meta, None)
        snapshot_id = uuid.uuid4().int >> 65
        seq = meta["last-sequence-number"] + 1
        now_ms = int(time.time() * 1000)

        per_file = {
            r["file_path"]: list(r["ps"])
            for r in delete_rows.groupBy("file_path").agg(
                F.sort_array(F.collect_list("pos")).alias("ps")
            ).collect()
        }  # O(changed rows)
        if not per_file:
            return meta["current-snapshot-id"]

        # merge rule: union in the existing DV positions of re-deleted
        # files; their old entries are replaced below
        existing = {
            d["referenced_data_file"]: d
            for d in self._dv_entries_of_snapshot(snap)
        }
        replaced: set[str] = set()
        for fp in list(per_file):
            old = existing.get(fp)
            if old is not None:
                with open(old["file_path"], "rb") as f:
                    f.seek(int(old["content_offset"]))
                    payload = f.read(int(old["content_size_in_bytes"]))
                per_file[fp] = sorted(
                    set(per_file[fp]) | set(decode_dv_payload(payload))
                )
                replaced.add(fp)

        part_of = {
            e["data_file"]["file_path"]: e["data_file"].get(
                "partition", {}
            )
            for e in self._entries_of_snapshot(snap, content=0)
        }
        blobs = [
            {
                "type": DV_BLOB_TYPE,
                "fields": [2147483546],  # reserved: row position
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "payload": encode_dv_payload(per_file[fp]),
                "properties": {
                    "referenced-data-file": fp,
                    "cardinality": str(len(per_file[fp])),
                },
            }
            for fp in sorted(per_file)
        ]
        puffin_path = os.path.join(
            self.path, "data", f"{uuid.uuid4().hex[:12]}-deletes.puffin"
        )
        info = write_puffin(puffin_path, blobs)
        dv_files = [
            {
                "content": 1,  # POSITION_DELETES
                "file_path": puffin_path,
                "file_format": "PUFFIN",
                "partition": part_of.get(bm_fp, {}),
                "record_count": len(per_file[bm_fp]),
                "file_size_in_bytes": info["file-size-in-bytes"],
                "lower_bounds": None,
                "upper_bounds": None,
                "referenced_data_file": bm_fp,
                "content_offset": bm["offset"],
                "content_size_in_bytes": bm["length"],
            }
            for bm, bm_fp in zip(
                info["blob-metadata"], sorted(per_file)
            )
        ]

        manifests = []
        for m in self._manifest_list_rows(meta):
            if m.get("content", 0) != 1 or not replaced:
                manifests.append(m)
                continue
            rows = [{**e} for e in _ocf_rows(m["manifest_path"])]
            doomed = [
                e for e in rows
                if e["status"] != 2
                and e["data_file"].get("file_format") == "PUFFIN"
                and e["data_file"].get("referenced_data_file")
                in replaced
            ]
            if not doomed:
                manifests.append(m)
                continue
            survivors = [
                {**e, "status": _EXISTING}
                for e in rows
                if e["status"] != 2 and e not in doomed
            ]
            if survivors:
                manifests.append(self._write_delete_manifest(
                    [], snapshot_id, seq, meta,
                    spec_id=m.get("partition_spec_id"),
                    entries=survivors,
                ))
            # a manifest left with no survivors is dropped entirely
        manifests.append(self._write_delete_manifest(
            dv_files, snapshot_id, seq, meta,
        ))

        mlist = self._write_manifest_list(manifests, snapshot_id)
        snap_rec = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": operation,
                        **self._take_summary()},
            "schema-id": meta["current-schema-id"],
        }
        meta = dict(meta)
        # deletion vectors are a format-version 3 feature
        meta["format-version"] = 3
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["current-snapshot-id"] = snapshot_id
        self._sync_main_ref(meta)
        meta["snapshots"] = meta["snapshots"] + [snap_rec]
        meta["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        try:
            self._commit_metadata(v + 1, meta)
        except FileExistsError:
            raise ConcurrentModificationError(
                f"concurrent commit at version {v + 1} under a "
                "deletion-vector write; re-run against the new head"
            ) from None
        return snapshot_id

    # ---------------------------------------- equality deletes (v2)
    def _write_equality_delete_files(
        self, values: DataFrame, cols: list[str]
    ) -> list[dict]:
        """Write v2 equality-delete parquet files (content=2) into
        data/ and return their data_file structs.

        Each row of ``values`` (projected to ``cols``, deduped) is a
        delete predicate: a data row is deleted when its ``cols``
        values equal the delete row's (null matches null) AND its
        data sequence number is STRICTLY LESS than the delete file's
        — the spec rule that lets rows re-inserted in the same or a
        later commit survive, which is exactly what a Flink-CDC-style
        upsert writer relies on. ``equality_ids`` carries the matched
        field ids; the parquet schema carries them per column."""
        import shutil

        import pyarrow.parquet as pq

        meta = self.metadata()
        fid = {
            f["name"]: f["id"]
            for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"]
        }
        missing = [c for c in cols if c not in fid]
        if missing:
            raise ValueError(
                f"equality-delete columns {missing} not in schema"
            )
        ids = [fid[c] for c in cols]
        staging = os.path.join(self.path, ".staging",
                               uuid.uuid4().hex)
        out = values.select(*[
            F.col(c).alias(
                c, metadata={"parquet.field.id": fid[c]}
            )
            for c in cols
        ]).distinct()
        out.write.mode("overwrite").parquet(staging)
        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        entries: list[dict] = []
        for fn in sorted(os.listdir(staging)):
            if not fn.endswith(".parquet"):
                continue
            src = os.path.join(staging, fn)
            n_rows = pq.ParquetFile(src).metadata.num_rows
            if n_rows == 0:
                continue
            base = f"{uuid.uuid4().hex[:12]}-eqdelete-{fn}"
            dst = os.path.join(data_dir, base)
            os.rename(src, dst)
            entries.append({
                "content": 2,  # EQUALITY_DELETES
                "file_path": dst,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n_rows,
                "file_size_in_bytes": os.path.getsize(dst),
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": ids,
            })
        shutil.rmtree(staging, ignore_errors=True)
        return entries

    def _equality_deletes_of_snapshot(self, snap: dict) -> list[dict]:
        """Live equality-delete files: (path, sequence number,
        equality field ids) from content=1 (deletes) manifests."""
        return [
            {
                "path": e["data_file"]["file_path"],
                "seq": e.get("sequence_number") or 0,
                "ids": list(e["data_file"].get("equality_ids") or []),
                "rows": e["data_file"].get("record_count"),
                "bytes": e["data_file"].get("file_size_in_bytes"),
            }
            for e in self._entries_of_snapshot(snap, content=1)
            if e["data_file"].get("content") == 2
        ]

    def equality_delete(self, values: DataFrame,
                        cols: list[str]) -> int:
        """Public merge-on-read delete by value: every current row
        whose ``cols`` equal a row of ``values`` is deleted — O(delta)
        bytes, no data file touched, the write shape of CDC ingestion
        (delete + re-insert streams). Commits one 'delete' snapshot
        holding a content=1 manifest over the new content=2 files."""
        delete_files = self._write_equality_delete_files(values, cols)
        if not delete_files:
            return self.metadata()["current-snapshot-id"]
        return self._commit_mor([], delete_files, "delete")

    def _apply_equality_deletes(
        self, tagged: DataFrame, snap: dict, meta: dict,
        anti: bool = True,
    ) -> DataFrame:
        """Apply (anti=True) — or probe (anti=False: return only the
        rows that WOULD be deleted) — the snapshot's equality deletes.
        ``tagged`` must carry ``__fname`` (data-file basename). The
        sequence rule: a delete at sequence s kills rows of data files
        with sequence < s; same-commit and later data survives."""
        eqs = self._equality_deletes_of_snapshot(snap)
        if not eqs:
            return tagged if anti else tagged.limit(0)
        seq_map = sorted({
            (os.path.basename(e["data_file"]["file_path"]),
             e.get("sequence_number") or 0)
            for e in self._entries_of_snapshot(snap, content=0)
        })
        unique_names = len({f for f, _ in seq_map}) == len(seq_map)
        if unique_names and 0 < len(seq_map) <= _INLINE_DELETE_ROWS:
            # the (data file -> sequence) relation is driver-known and
            # small: attach __dataseq as a literal map lookup instead
            # of a broadcast join (one broadcast-build job less; a
            # missing file yields NULL exactly like the left join did).
            # A map literal refuses repeated keys: identical (basename,
            # sequence) pairs collapse above, and a basename left with
            # two sequence numbers takes the join.
            entries = []
            for fname, seq in seq_map:
                entries.append(F.lit(fname))
                entries.append(F.lit(int(seq)))
            tagged = tagged.withColumn(
                "__dataseq",
                F.element_at(F.create_map(*entries), F.col("__fname"))
                .cast("long"),
            )
        else:
            seq_df = self.spark.createDataFrame(
                seq_map, "__fname string, __dataseq long"
            )
            tagged = tagged.join(
                F.broadcast(seq_df), "__fname", "left"
            )
        id2name = {
            f["id"]: f["name"]
            for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"]
        }
        groups: dict[tuple, list[dict]] = {}
        for e in eqs:
            groups.setdefault(tuple(sorted(e["ids"])), []).append(e)
        probe_parts = []
        for ids, files in groups.items():
            cols = [id2name[i] for i in ids]
            # literal-inline fast path: single-column value sets that
            # are provably tiny read on the driver and apply as an
            # isin + sequence-rule predicate — no value scan, no join,
            # no broadcast build (the changelog gates spent ~0.1 s per
            # broadcast-build job on 10-row delete sets)
            kill = self._inline_eq_pred(files, cols)
            if kill is not None:
                if anti:
                    tagged = tagged.filter(
                        ~F.coalesce(kill, F.lit(False))
                    )
                else:
                    probe_parts.append(tagged.filter(
                        F.coalesce(kill, F.lit(False))
                    ))
                continue
            fseq_df = self.spark.createDataFrame(
                [(os.path.basename(e["path"]), e["seq"])
                 for e in files],
                "__dfname string, __delseq long",
            )
            dels = (
                self.spark.read.schema(
                    self._eq_values_schema(meta, ids)
                ).parquet(*[e["path"] for e in files])
                .withColumn(
                    "__dfname",
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ),
                )
                .join(F.broadcast(fseq_df), "__dfname")
                .select(
                    *[F.col(c).alias(f"__dv_{c}") for c in cols],
                    "__delseq",
                )
            )
            # stats-driven broadcast (see _apply_deletes): manifest
            # record counts + file sizes bound the value set without a
            # data read (rows alone under-counts wide string values)
            n_rows, n_bytes = 0, 0
            for e in files:
                if e.get("rows") is None or e.get("bytes") is None:
                    n_rows = None
                    break
                n_rows += int(e["rows"])
                n_bytes += int(e["bytes"])
            if (n_rows is not None
                    and n_rows <= _BROADCAST_DELETE_ROWS
                    and n_bytes <= _BROADCAST_DELETE_BYTES):
                dels = F.broadcast(dels)
            cond = F.col("__delseq") > F.col("__dataseq")
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__dv_{c}"))
            if anti:
                tagged = tagged.join(dels, on=cond, how="left_anti")
            else:
                probe_parts.append(
                    tagged.join(dels, on=cond, how="left_semi")
                )
        if not anti:
            out = probe_parts[0]
            for p in probe_parts[1:]:
                out = out.unionByName(p)
            return out.drop("__dataseq")
        return tagged.drop("__dataseq")

    def _inline_eq_pred(self, files: list[dict], cols: list[str]):
        """Driver-inlined kill predicate for ONE equality-delete group
        (same ``ids``): ``row matches a delete value AND its data file
        is older than that delete`` — or None when the group is not
        eligible (multi-column sets, unknown counts, or more than
        ``_INLINE_DELETE_ROWS`` values keep the scan+join path).
        Null delete values match null rows, mirroring the join's
        eqNullSafe."""
        if _INLINE_DELETE_ROWS <= 0 or len(cols) != 1:
            return None
        total = 0
        for e in files:
            if e.get("rows") is None:
                return None
            total += int(e["rows"])
            if total > _INLINE_DELETE_ROWS:
                return None
        import pyarrow.parquet as pq

        col = cols[0]
        kill = None
        try:
            for e in files:
                vals = pq.read_table(
                    e["path"], columns=[col]
                ).column(col).to_pylist()
                non_null = [v for v in vals if v is not None]
                match = None
                if non_null:
                    match = F.col(col).isin(non_null)
                if len(non_null) < len(vals):  # null delete value
                    isnull = F.col(col).isNull()
                    match = isnull if match is None \
                        else (match | isnull)
                if match is None:
                    continue  # empty delete file kills nothing
                cond = match & (
                    F.lit(int(e["seq"])) > F.col("__dataseq")
                )
                kill = cond if kill is None else (kill | cond)
        except Exception:
            return None  # unreadable file: scan+join path handles it
        return kill if kill is not None else F.lit(False)

    # spec position-delete file schema (fields 2147483546/2147483545)
    _POS_DELETE_SCHEMA = "file_path string, pos long"

    def _read_pos_deletes(self, paths: list[str]) -> DataFrame:
        """Read position-delete files with the SPEC schema pinned —
        an unpinned ``read.parquet`` runs a footer-inference Spark
        job at PLAN TIME, which turns metadata-only planning
        (changelog windows, delete application) into one cluster
        round-trip per call."""
        return self.spark.read.schema(
            self._POS_DELETE_SCHEMA
        ).parquet(*paths)

    def _eq_values_schema(self, meta: dict, ids) -> T.StructType:
        """Pinned read schema for equality-delete files: exactly the
        equality columns, typed from the current table schema."""
        by_name = {
            f.name: f for f in self._spark_schema(meta).fields
        }
        id2name = {
            f["id"]: f["name"]
            for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"]
        }
        return T.StructType([by_name[id2name[i]] for i in ids])

    def _apply_deletes(self, df: DataFrame, snap: dict,
                       meta: dict | None = None,
                       pre_tagged: bool = False) -> DataFrame:
        """Reader-side merge of BOTH v2 delete kinds: position deletes
        (exact (file, pos) anti-join) then equality deletes
        (value match under the strict sequence rule). ``pre_tagged``:
        ``df`` already carries ``__fname``/``__pos`` columns (the
        lineage read tags first because ``_metadata`` does not survive
        its broadcast join) — they are consumed and dropped here the
        same way."""
        pos_paths = self._delete_files_of_snapshot(snap)
        dv_entries = self._dv_entries_of_snapshot(snap)
        eqs = self._equality_deletes_of_snapshot(snap)
        if not pos_paths and not eqs and not dv_entries:
            return df.drop("__fname", "__pos") if pre_tagged else df
        if meta is None:
            meta = self.metadata()
        tagged = df if pre_tagged else df.withColumn(
            "__fname",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if pos_paths or dv_entries:
            # literal-inline fast path for provably tiny delete sets:
            # a filter predicate instead of an anti-join (no broadcast
            # build job, no exchange) — see _inline_pos_map
            pm = self._inline_pos_map(pos_paths, dv_entries)
            if pm is not None:
                tagged = tagged.filter(~self._pos_deleted_pred(pm))
                pos_paths, dv_entries = [], []
        dels = None
        if pos_paths:
            dels = self._read_pos_deletes(pos_paths)
        if dv_entries:
            dv = self._read_dv_positions(dv_entries)
            dels = dv if dels is None else dels.unionByName(dv)
        if dels is not None:
            rel = dels.select(
                F.substring_index(F.col("file_path"), "/", -1)
                .alias("__fname"),
                F.col("pos").alias("__pos"),
            )
            # stats-driven broadcast: manifest record counts bound the
            # delete relation EXACTLY without reading a data byte, so
            # below the threshold the carried-file side is never
            # shuffled (static planning has no stats here and falls
            # back to a both-sides-shuffled SortMergeJoin otherwise) —
            # the small-delete-set strategy real readers use. Unknown
            # counts disable the hint; AQE still decides at runtime.
            n_del, n_bytes = 0, 0
            for e in self._entries_of_snapshot(snap, content=1):
                d = e["data_file"]
                if d.get("content", 1) != 1:
                    continue
                rc = d.get("record_count")
                fb = d.get("file_size_in_bytes")
                if rc is None or fb is None:
                    n_del = None
                    break
                n_del += int(rc)
                n_bytes += int(fb)
            if (n_del is not None
                    and n_del <= _BROADCAST_DELETE_ROWS
                    and n_bytes <= _BROADCAST_DELETE_BYTES):
                rel = F.broadcast(rel)
            tagged = tagged.join(rel, ["__fname", "__pos"], "left_anti")
        if eqs:
            tagged = self._apply_equality_deletes(tagged, snap, meta)
        return tagged.drop("__fname", "__pos")

    def _write_delete_manifest(
        self, delete_files: list[dict], snapshot_id: int, seq: int,
        meta: dict, spec_id: int | None = None,
        entries: list[dict] | None = None,
    ) -> dict:
        """One content=1 manifest holding the new delete files; returns
        its manifest-list row. ``spec_id`` pins a non-default
        partition spec (global equality deletes ride the
        unpartitioned one). Pass ``entries`` to carry surviving rows
        of a rewritten delete manifest (original snapshot/sequence
        metadata preserved) instead of fresh ADDED rows."""
        if entries is None:
            entries = [
                {
                    "status": _ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": d,
                }
                for d in delete_files
            ]
        if spec_id is None:
            spec_id = meta.get("default-spec-id", 0)
        spec = next(
            s for s in meta["partition-specs"]
            if s["spec-id"] == spec_id
        )
        pfields = self._partition_fields(meta, spec=spec)
        spec_json = json.dumps([
            {"name": pf["name"], "transform": pf["transform"],
             "source-id": pf["source-id"], "field-id": pf["field-id"]}
            for pf in pfields
        ])
        blob = encode_ocf(
            _manifest_entry_schema(pfields), entries, codec="null",
            extra_meta={
                "schema": json.dumps(
                    meta["schemas"][meta["current-schema-id"]]
                ).encode(),
                "schema-id": str(meta["current-schema-id"]).encode(),
                "partition-spec": spec_json.encode(),
                "partition-spec-id": str(spec_id).encode(),
                # DV entries (spec fields 143-145, PUFFIN blobs) are
                # a v3 construct — stamp the manifest v3 so external
                # readers decode the optional DV columns
                "format-version": (
                    b"3" if any(
                        e["data_file"].get("file_format") == "PUFFIN"
                        for e in entries
                    ) else b"2"
                ),
                "content": b"deletes",
            },
        )
        mpath = os.path.join(
            self.meta_dir, f"{uuid.uuid4().hex}-m0.avro"
        )
        with open(mpath, "wb") as f:
            f.write(blob)
        carried = not delete_files and entries
        return {
            "manifest_path": mpath,
            "manifest_length": len(blob),
            "partition_spec_id": spec_id,
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": (
                min(e["sequence_number"] for e in entries)
                if carried else seq
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(delete_files),
            "existing_files_count": len(entries) if carried else 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(
                d["record_count"] for d in delete_files
            ),
            "existing_rows_count": sum(
                e["data_file"]["record_count"] for e in entries
            ) if carried else 0,
            "deleted_rows_count": 0,
        }

    def _commit_mor(
        self, data_files: list[dict], delete_files: list[dict],
        operation: str,
    ) -> int:
        """Merge-on-read commit: carry EVERY current manifest forward
        (data and deletes — nothing is rewritten) and add a new data
        manifest and/or delete manifest. The write cost is O(changed
        rows), never O(touched files' bytes) — the scale answer to
        the COW a-3-row-delete-rewrites-a-multi-GB-file plan."""
        v = self.current_version()
        meta = self.metadata(v)
        snapshot_id = uuid.uuid4().int >> 65
        seq = meta["last-sequence-number"] + 1
        now_ms = int(time.time() * 1000)
        manifests = list(self._manifest_list_rows(meta))
        meta = dict(meta)
        lineage_first = meta.get("next-row-id")
        self._assign_first_row_ids(meta, data_files)
        if data_files:
            mpath, mlen, nrows = self._write_manifest(
                data_files, snapshot_id, seq,
                meta["schemas"][meta["current-schema-id"]],
            )
            manifests.append({
                "manifest_path": mpath,
                "manifest_length": mlen,
                "partition_spec_id": meta.get("default-spec-id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(data_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": nrows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            })
        if delete_files:
            spec_id = None
            default_spec = meta["partition-specs"][
                meta.get("default-spec-id", 0)
            ]
            if default_spec.get("fields") and all(
                d.get("content") == 2 and not d.get("partition")
                for d in delete_files
            ):
                # GLOBAL equality deletes on a partitioned table ride
                # the unpartitioned spec, per the spec's scoping rule
                # (a delete manifest holds ONE spec; an empty
                # partition struct under a partitioned spec would
                # read as all-null partition values, not "applies
                # everywhere") — register the empty spec on first use
                meta = dict(meta)
                unpart = next(
                    (s for s in meta["partition-specs"]
                     if not s.get("fields")),
                    None,
                )
                if unpart is None:
                    unpart = {
                        "spec-id": max(
                            s["spec-id"]
                            for s in meta["partition-specs"]
                        ) + 1,
                        "fields": [],
                    }
                    meta["partition-specs"] = (
                        meta["partition-specs"] + [unpart]
                    )
                spec_id = unpart["spec-id"]
            manifests.append(self._write_delete_manifest(
                delete_files, snapshot_id, seq, meta,
                spec_id=spec_id,
            ))
        mlist = self._write_manifest_list(manifests, snapshot_id)
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": operation, **self._take_summary()},
            "schema-id": meta["current-schema-id"],
        }
        if lineage_first is not None and data_files:
            snap["first-row-id"] = lineage_first
        meta = dict(meta)
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["current-snapshot-id"] = snapshot_id
        self._sync_main_ref(meta)
        meta["snapshots"] = meta["snapshots"] + [snap]
        meta["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        try:
            self._commit_metadata(v + 1, meta)
        except FileExistsError:
            raise ConcurrentModificationError(
                f"concurrent commit at version {v + 1} under a "
                "merge-on-read write; re-run against the new head"
            ) from None
        return snapshot_id

    def _write_manifest(
        self, data_files: list[dict], snapshot_id: int, seq: int,
        table_schema: dict, spec: dict | None = None,
        entries: list[dict] | None = None,
    ) -> tuple[str, int, int]:
        """One data manifest. ``spec`` pins the partition spec the
        entries were written under (default: the table's default spec
        — a manifest may hold ONE spec only, per the format); pass
        ``entries`` to carry EXISTING-status rows with their original
        snapshot/sequence metadata instead of fresh ADDED rows."""
        if entries is None:
            entries = [
                {
                    "status": _ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": d,
                }
                for d in data_files
            ]
        meta = self.metadata() if self.current_version() >= 0 else None
        if spec is None and meta is not None:
            spec = meta["partition-specs"][meta["default-spec-id"]]
        pfields = (
            self._partition_fields(meta, spec=spec)
            if meta is not None else []
        )
        spec_id = (spec or {}).get("spec-id", 0)
        spec_json = json.dumps([
            {"name": pf["name"], "transform": pf["transform"],
             "source-id": pf["source-id"], "field-id": pf["field-id"]}
            for pf in pfields
        ])
        blob = encode_ocf(
            _manifest_entry_schema(pfields),
            entries,
            codec="null",
            extra_meta={
                "schema": json.dumps(table_schema).encode(),
                "schema-id": str(
                    table_schema.get("schema-id", 0)
                ).encode(),
                "partition-spec": spec_json.encode(),
                "partition-spec-id": str(spec_id).encode(),
                # Stamp the TABLE's format version (ADVICE r13): a v3
                # table's entries carry first_row_id (field 142), and
                # spec-conscious readers key manifest decoding off this
                # tag — a b"2" stamp makes them drop row lineage as
                # NULL. Mirrors the PUFFIN delete-manifest fix above.
                "format-version": (
                    b"3" if meta is not None
                    and meta.get("format-version", 2) >= 3 else b"2"
                ),
                "content": b"data",
            },
        )
        p = os.path.join(self.meta_dir, f"{uuid.uuid4().hex}-m0.avro")
        os.makedirs(self.meta_dir, exist_ok=True)
        with open(p, "wb") as f:
            f.write(blob)
        rows = sum(
            e["data_file"]["record_count"] for e in entries
        )
        return p, len(blob), rows

    def _write_manifest_list(
        self, manifests: list[dict], snapshot_id: int
    ) -> str:
        try:
            fv = self.metadata().get("format-version", 2)
        except Exception:
            fv = 2
        blob = encode_ocf(
            _MANIFEST_LIST_SCHEMA, manifests, codec="null",
            # table's format version, not a hardcoded 2 (ADVICE r13)
            extra_meta={"format-version": str(fv).encode()},
        )
        p = os.path.join(
            self.meta_dir,
            f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro",
        )
        with open(p, "wb") as f:
            f.write(blob)
        return p

    def _commit_snapshot(
        self, df: DataFrame, operation: str, branch: str = "main"
    ) -> int:
        """Append or overwrite: write data files, one new manifest, a
        manifest list (prior manifests carried forward on append), and
        the next metadata.json naming the new snapshot.

        Optimistic concurrency mirrors the Delta twin: a lost
        metadata-swap race REBASES appends onto the new head (data
        files are reused; manifest and list are rewritten with the
        rebased sequence number), and REFUSES overwrite snapshots with
        ConcurrentModificationError — re-run against the new head."""
        data_files = self._write_data_files(df)
        last_err = None
        for _attempt in range(10):
            sid = self._try_commit_snapshot(
                data_files, operation, branch
            )
            if sid is not None:
                return sid
            last_err = True
            if operation != "append":
                raise ConcurrentModificationError(
                    "concurrent commit under a non-append snapshot "
                    f"({operation}); re-run against the new head"
                )
        raise ConcurrentModificationError(
            f"lost the metadata swap 10 times at {self.path}"
        )

    def _try_commit_snapshot(
        self, data_files: list[dict], operation: str,
        branch: str = "main",
    ) -> int | None:
        """One optimistic attempt against the current head; None on a
        lost race. ``branch`` other than "main" parents the new
        snapshot on that ref's head and advances ONLY the ref —
        ``current-snapshot-id`` (and snapshot-log, which tracks the
        main lineage per the spec) stay put; readers see the branch
        via ``snapshot(ref=...)`` until ``fast_forward`` publishes."""
        v = self.current_version()
        meta = self.metadata(v)
        if branch != "main":
            ref = meta.get("refs", {}).get(branch)
            if ref is None:
                raise ValueError(
                    f"no branch named {branch!r}; create_branch first"
                )
            if ref.get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag, not a "
                                 "branch; tags are immutable")
        snapshot_id = uuid.uuid4().int >> 65  # positive 63-bit
        seq = meta["last-sequence-number"] + 1
        now_ms = int(time.time() * 1000)

        meta = dict(meta)
        lineage_first = meta.get("next-row-id")
        self._assign_first_row_ids(meta, data_files)
        mpath, mlen, nrows = self._write_manifest(
            data_files, snapshot_id, seq,
            meta["schemas"][meta["current-schema-id"]],
        )
        new_manifest = {
            "manifest_path": mpath,
            "manifest_length": mlen,
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(data_files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": nrows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
        parent = (
            meta["refs"][branch]["snapshot-id"] if branch != "main"
            else meta.get("current-snapshot-id")
        )
        carried = (
            self._manifest_list_rows(
                meta, None if branch == "main" else parent
            )
            if operation == "append" else []
        )
        mlist = self._write_manifest_list(
            carried + [new_manifest], snapshot_id
        )
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": operation, **self._take_summary()},
            "schema-id": meta["current-schema-id"],
        }
        if parent is not None and parent != -1:
            snap["parent-snapshot-id"] = parent
        if lineage_first is not None:
            snap["first-row-id"] = lineage_first
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["snapshots"] = meta["snapshots"] + [snap]
        refs = dict(meta.get("refs", {}))
        if branch == "main":
            meta["current-snapshot-id"] = snapshot_id
            meta["snapshot-log"] = meta.get("snapshot-log", []) + [
                {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
            ]
            if "main" in refs:
                refs["main"] = {
                    **refs["main"], "snapshot-id": snapshot_id,
                }
        else:
            refs[branch] = {
                **refs[branch], "snapshot-id": snapshot_id,
            }
        if refs:
            meta["refs"] = refs
        meta["metadata-log"] = meta.get("metadata-log", []) + [
            {"metadata-file": self._metadata_path(v),
             "timestamp-ms": now_ms}
        ]
        try:
            self._commit_metadata(v + 1, meta)
        except FileExistsError:
            return None  # lost the swap; caller decides rebase/refuse
        return snapshot_id

    # -------------------------------------------------------- public
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> "IcebergTable":
        t = cls(spark, path)
        if t.current_version() >= 0:
            raise ValueError(f"iceberg table already exists at {path}")
        schema = _iceberg_schema(df.schema)
        spec_fields = _build_spec_fields(
            schema["fields"], partition_by or [], first_pid=1000
        )
        now_ms = int(time.time() * 1000)
        has_variant = any(
            f["type"] == "variant" for f in schema["fields"]
        )
        meta = {
            "format-version": 3 if has_variant else 2,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": len(schema["fields"]),
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        os.makedirs(path, exist_ok=True)
        t._commit_metadata(0, meta)
        t._commit_snapshot(df, "append")
        return t

    def enable_row_lineage(self, initial_next_row_id: int = 0) -> int:
        """Turn on v3 Row Lineage: format-version 3 plus the
        ``next-row-id`` counter (spec: the table-level source of the
        ids snapshots assign). Metadata-only commit; files written
        BEFORE enablement have no first_row_id and read as NULL
        lineage until rewritten, per the spec's upgrade semantics.
        ``initial_next_row_id`` seeds the counter above ids already
        materialized in the data (cross-format conversion carries the
        source's counter so fresh ids never collide)."""
        v = self.current_version()
        meta = dict(self.metadata(v))
        if "next-row-id" in meta:
            return v
        meta["format-version"] = 3
        meta["next-row-id"] = int(initial_next_row_id)
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(v + 1, meta)
        return v + 1

    @staticmethod
    def _assign_first_row_ids(
        meta: dict, data_files: list[dict], snap: dict | None = None
    ) -> None:
        """v3 Row Lineage assignment at commit (spec Row Lineage):
        each ADDED data file gets ``first_row_id`` from the table's
        ``next-row-id`` counter in commit order, the snapshot records
        its ``first-row-id``, and the counter advances by the rows
        assigned. No-op unless row lineage is enabled. ``meta`` must
        be the dict the commit is about to write."""
        first = meta.get("next-row-id")
        if first is None:
            return
        run = first
        for d in data_files:
            d["first_row_id"] = run
            run += d["record_count"]
        if snap is not None:
            snap["first-row-id"] = first
        meta["next-row-id"] = run

    def append(self, df: DataFrame, branch: str = "main") -> int:
        return self._commit_snapshot(self._align(df), "append", branch)

    def overwrite(self, df: DataFrame, branch: str = "main") -> int:
        return self._commit_snapshot(
            self._align(df), "overwrite", branch
        )

    # ------------------------------------------- schema evolution
    def _spark_schema(self, meta: dict | None = None) -> T.StructType:
        meta = meta or self.metadata()
        inv = {v: k for k, v in _ICEBERG_TYPES.items()}
        by_id = (
            meta.get("properties", {}).get("fda.read.by-field-id")
            == "true"
        )
        if by_id:
            # resolve columns by parquet field id (the spec's rule):
            # required once a rename/drop means names no longer match
            # what older files recorded. The session conf only
            # activates for read schemas that carry id metadata, so
            # flipping it is safe for every other scan.
            self.spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
        return T.StructType([
            T.StructField(
                f["name"], inv[f["type"]](), True,
                metadata=(
                    {"parquet.field.id": f["id"]} if by_id else None
                ),
            )
            for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        ])

    def _align(self, df: DataFrame) -> DataFrame:
        """Align a batch to the table's CURRENT schema: columns in
        schema order; columns the schema added since the batch was
        built fill with NULL (new columns are optional, spec rule);
        unknown columns refuse — evolve with ``add_column`` first."""
        if self.current_version() < 0:
            return df
        meta = self.metadata()
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        names = [f["name"] for f in fields]
        # the materialized lineage columns are RESERVED columns (v3
        # Row Lineage), not schema columns: pass through when lineage
        # is on
        rt_cols = [
            c for c, _fid in _LINEAGE_FIELDS
            if c in df.columns and "next-row-id" in meta
        ]
        unknown = [
            c for c in df.columns
            if c not in names and c not in rt_cols
        ]
        if unknown:
            raise ValueError(
                f"columns not in table schema: {unknown}; call "
                "add_column to evolve the schema first"
            )
        if df.columns == names:
            return df
        inv = {v: k for k, v in _ICEBERG_TYPES.items()}
        return df.select(*[
            F.col(f["name"]) if f["name"] in df.columns
            else F.lit(None).cast(inv[f["type"]]()).alias(f["name"])
            for f in fields
        ], *rt_cols)

    def add_column(self, name: str, spark_type: T.DataType) -> int:
        """Schema evolution, spec rules: new columns APPEND with a
        fresh field id (``last-column-id`` + 1), the evolved schema
        joins ``schemas`` under a new schema-id, and
        ``current-schema-id`` moves — prior schemas stay readable for
        old metadata. Existing data files simply lack the field;
        reads surface it as NULL (the reader pins the current schema),
        and per-file bounds for the new id appear as files are
        written. Renames/drops/type-promotions are not implemented."""
        it = _ICEBERG_TYPES.get(type(spark_type))
        if it is None:
            raise ValueError(f"unsupported column type {spark_type}")
        v = self.current_version()
        meta = dict(self.metadata(v))
        cur = meta["schemas"][meta["current-schema-id"]]
        if any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"column {name} already exists")
        new_id = meta["last-column-id"] + 1
        evolved = {
            "type": "struct",
            "schema-id": len(meta["schemas"]),
            "fields": list(cur["fields"]) + [
                {"id": new_id, "name": name, "required": False,
                 "type": it}
            ],
        }
        meta["schemas"] = meta["schemas"] + [evolved]
        meta["current-schema-id"] = evolved["schema-id"]
        meta["last-column-id"] = new_id
        if it == "variant" and meta.get("format-version", 2) < 3:
            meta["format-version"] = 3  # variant is a V3 type
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(v + 1, meta)
        return v + 1

    def _require_field_ids(self) -> None:
        """Rename/drop re-resolve old files by parquet field id; every
        live data file must therefore carry id metadata. Checked once
        (O(live files) footer reads, driver-side — the cost of an
        explicit DDL) and then recorded as a table property."""
        meta = self.metadata()
        if meta.get("properties", {}).get(
            "fda.read.by-field-id"
        ) == "true":
            return
        import pyarrow.parquet as pq

        for p in self._files_of_snapshot(
            self._snapshot_by(meta, None)
        ):
            sch = pq.read_schema(p)
            for name in sch.names:
                md = sch.field(name).metadata or {}
                if b"PARQUET:field_id" not in md:
                    raise ValueError(
                        f"data file {os.path.basename(p)} lacks "
                        "parquet field ids (written before id "
                        "support); compact() the table first, then "
                        "retry the rename/drop"
                    )

    def _evolve_schema(self, new_fields: list[dict]) -> int:
        v = self.current_version()
        meta = dict(self.metadata(v))
        evolved = {
            "type": "struct",
            "schema-id": len(meta["schemas"]),
            "fields": new_fields,
        }
        meta["schemas"] = meta["schemas"] + [evolved]
        meta["current-schema-id"] = evolved["schema-id"]
        props = dict(meta.get("properties", {}))
        props["fda.read.by-field-id"] = "true"
        meta["properties"] = props
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(v + 1, meta)
        return v + 1

    _TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}

    def promote_column_type(self, name: str, new_type: str) -> int:
        """Spec Schema Evolution type promotion: ``int -> long``,
        ``float -> double``. Metadata-only (new schema-id, SAME field
        id — ids never change); files written before the promotion
        keep their narrower physical parquet type and upcast at read
        (Spark's parquet reader resolves int32 under a bigint read
        schema natively), and their stored column bounds keep the
        narrower single-value serialization, which ``_bound_value``
        decodes width-tolerantly. Identity/bucket partitioning over
        the column survives unchanged — the spec hashes int and long
        identically (both as the 8-byte little-endian long), which is
        precisely why it restricts promotion to these pairs."""
        meta = self.metadata()
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        by_name = {f["name"]: f for f in fields}
        if name not in by_name:
            raise ValueError(f"no column {name!r} in current schema")
        old = by_name[name]["type"]
        if (old, new_type) not in self._TYPE_PROMOTIONS:
            raise ValueError(
                f"type promotion {old} -> {new_type} is not a spec "
                "promotion (allowed: int -> long, float -> double)"
            )
        new_fields = [
            dict(f, type=new_type) if f["name"] == name else f
            for f in fields
        ]
        return self._evolve_schema(new_fields)

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only rename (spec: names may change freely, the
        field id is the identity). Old data files re-resolve by id;
        partition source fields refuse (their hive directory names
        would go stale)."""
        meta = self.metadata()
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        if not any(f["name"] == old for f in fields):
            raise ValueError(f"no column {old!r}")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        src_ids = {
            pf["source-id"] for pf in self._partition_fields(meta)
        }
        fld = next(f for f in fields if f["name"] == old)
        if fld["id"] in src_ids:
            raise ValueError(
                f"{old!r} is a partition source field; renaming it "
                "would orphan the hive directory layout"
            )
        self._require_field_ids()
        return self._evolve_schema([
            {**f, "name": new} if f["name"] == old else f
            for f in fields
        ])

    def drop_column(self, name: str) -> int:
        """Metadata-only drop (spec: deleting a field never reclaims
        its id). Old files keep the column bytes; readers simply stop
        requesting the id. Partition source fields refuse."""
        meta = self.metadata()
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        if not any(f["name"] == name for f in fields):
            raise ValueError(f"no column {name!r}")
        if len(fields) == 1:
            raise ValueError("cannot drop the last column")
        src_ids = {
            pf["source-id"] for pf in self._partition_fields(meta)
        }
        fld = next(f for f in fields if f["name"] == name)
        if fld["id"] in src_ids:
            raise ValueError(
                f"{name!r} is a partition source field; drop the "
                "partition spec first"
            )
        self._require_field_ids()
        return self._evolve_schema(
            [f for f in fields if f["name"] != name]
        )

    def update_partition_spec(
        self, partition_by: list[str]
    ) -> int:
        """Partition SPEC EVOLUTION (spec: specs are append-only;
        the default-spec-id moves, older files stay under the spec
        that wrote them). Metadata-only: future writes lay out by the
        new identity columns; reads are layout-independent because
        identity partition values live in the data files; per-entry
        partition structs keep pruning working across specs."""
        v = self.current_version()
        meta = dict(self.metadata(v))
        last_pid = meta.get("last-partition-id", 999)
        spec_fields = _build_spec_fields(
            meta["schemas"][meta["current-schema-id"]]["fields"],
            partition_by, first_pid=last_pid + 1,
        )
        last_pid += len(spec_fields)
        new_spec = {
            "spec-id": len(meta["partition-specs"]),
            "fields": spec_fields,
        }
        meta["partition-specs"] = (
            meta["partition-specs"] + [new_spec]
        )
        meta["default-spec-id"] = new_spec["spec-id"]
        meta["last-partition-id"] = last_pid
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(v + 1, meta)
        return v + 1

    def _rewrite_files(
        self, replaced: set, new_df: DataFrame | None, operation: str,
        carry_deletes: bool = True, meta_mutate=None,
    ) -> int:
        """Copy-on-write core for upsert/delete: keep every current
        data file except ``replaced`` (carried forward as
        EXISTING-status entries with their original snapshot ids and
        sequence numbers, per the spec), write ``new_df`` as ADDED
        files, commit one snapshot. Position-delete manifests are
        carried forward too (their entries still apply to the carried
        data files; entries naming replaced files dangle harmlessly) —
        ``carry_deletes=False`` drops them, for the purge compaction
        whose rewrite folds the deletes in."""
        v = self.current_version()
        meta = self.metadata(v)
        snapshot_id = uuid.uuid4().int >> 65
        seq = meta["last-sequence-number"] + 1
        now_ms = int(time.time() * 1000)

        kept = [
            e for e in self._entries_of_current()
            if e["data_file"]["file_path"] not in replaced
        ]
        for e in kept:
            e["status"] = 0  # EXISTING: original snapshot/seq retained
        added = (
            self._write_data_files(new_df) if new_df is not None else []
        )
        meta = dict(meta)
        lineage_first = meta.get("next-row-id")
        self._assign_first_row_ids(meta, added)
        schema_cur = meta["schemas"][meta["current-schema-id"]]

        # a manifest may hold ONE partition spec: group carried
        # entries by the key set of their partition struct and match
        # each group to its recording spec (partition SPEC EVOLUTION
        # leaves older files under older specs)
        def _spec_of(keyset: frozenset) -> dict:
            for s in meta["partition-specs"]:
                if frozenset(
                    f["name"] for f in s.get("fields", [])
                ) == keyset:
                    return s
            return meta["partition-specs"][meta["default-spec-id"]]

        groups: dict[frozenset, list[dict]] = {}
        for e in kept:
            ks = frozenset((e["data_file"].get("partition")
                            or {}).keys())
            groups.setdefault(ks, []).append(e)

        manifests = []
        cur_spec = meta["partition-specs"][meta["default-spec-id"]]
        added_entries = [
            {
                "status": _ADDED,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": d,
            }
            for d in added
        ]
        cur_key = frozenset(
            f["name"] for f in cur_spec.get("fields", [])
        )
        # fold the added entries into the current-spec group (one
        # manifest) when one exists; else they get their own
        write_groups: list[tuple[dict, list[dict], int]] = []
        if cur_key in groups:
            write_groups.append((
                cur_spec, groups.pop(cur_key) + added_entries,
                len(added_entries),
            ))
        elif added_entries:
            write_groups.append((cur_spec, added_entries,
                                 len(added_entries)))
        for ks, es in groups.items():
            write_groups.append((_spec_of(ks), es, 0))
        if not write_groups:
            write_groups.append((cur_spec, [], 0))
        for spec, es, n_added in write_groups:
            mpath, mlen, _rows = self._write_manifest(
                [], snapshot_id, seq, schema_cur,
                spec=spec, entries=es,
            )
            n_existing = len(es) - n_added
            manifests.append({
                "manifest_path": mpath,
                "manifest_length": mlen,
                "partition_spec_id": spec.get("spec-id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min(
                    [e["sequence_number"] or seq for e in es],
                    default=seq,
                ),
                "added_snapshot_id": snapshot_id,
                "added_files_count": n_added,
                "existing_files_count": n_existing,
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in es[len(es) - n_added:]
                ),
                "existing_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in es[: len(es) - n_added]
                ),
                "deleted_rows_count": 0,
            })
        manifests[0]["deleted_files_count"] = len(replaced)
        carried_deletes = [
            m for m in self._manifest_list_rows(meta)
            if m.get("content", 0) == 1
        ] if carry_deletes else []
        mlist = self._write_manifest_list(
            manifests + carried_deletes, snapshot_id
        )
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": operation, **self._take_summary()},
            "schema-id": meta["current-schema-id"],
        }
        if lineage_first is not None:
            snap["first-row-id"] = lineage_first
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["current-snapshot-id"] = snapshot_id
        self._sync_main_ref(meta)
        meta["snapshots"] = meta["snapshots"] + [snap]
        meta["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        if meta_mutate is not None:
            meta_mutate(meta)
        try:
            self._commit_metadata(v + 1, meta)
        except FileExistsError:
            raise ConcurrentModificationError(
                f"concurrent commit at version {v + 1} under a "
                "read-modify-write (upsert/delete); re-run against "
                "the new head"
            ) from None
        return snapshot_id

    def purge_deletes(self) -> int:
        """Compaction for merge-on-read debt: rewrite exactly the data
        files that have delete rows against them — position deletes
        name their files directly; equality deletes are probed with
        one semi-join so only files that actually lose rows rewrite —
        then drop every delete manifest in one 'replace' snapshot.
        Files with no deletes carry forward untouched."""
        meta = self.metadata()
        snap = self._snapshot_by(meta, None)
        delete_paths = self._delete_files_of_snapshot(snap)
        dv_entries = self._dv_entries_of_snapshot(snap)
        eqs = self._equality_deletes_of_snapshot(snap)
        if not delete_paths and not eqs and not dv_entries:
            return meta["current-snapshot-id"]
        doomed_names: set[str] = set()
        if delete_paths:
            doomed_names |= {
                os.path.basename(r["file_path"])
                for r in self._read_pos_deletes(delete_paths)
                .select("file_path").distinct().collect()
            }  # O(files with deletes)
        # deletion vectors NAME their victims in the manifest entry
        doomed_names |= {
            os.path.basename(d["referenced_data_file"])
            for d in dv_entries
        }
        files = self._files_of_snapshot(snap)
        if eqs and files:
            probe = self.spark.read.schema(
                self._spark_schema(meta)
            ).parquet(*files).withColumn(
                "__fname",
                F.substring_index(
                    F.col("_metadata.file_path"), "/", -1
                ),
            )
            doomed_names |= {
                r["__fname"]
                for r in self._apply_equality_deletes(
                    probe, snap, meta, anti=False
                ).select("__fname").distinct().collect()
            }  # O(files losing rows to equality deletes)
        affected = {
            p for p in files
            if os.path.basename(p) in doomed_names
        }
        if not affected:
            # dangling deletes only (their files already rewritten):
            # just drop the delete manifests
            return self._rewrite_files(
                set(), None, "replace", carry_deletes=False
            )
        if "next-row-id" in meta:
            # lineage survives the purge rewrite (materialized)
            kept_rows = self._read_with_lineage(
                snap, meta, only=set(affected)
            )
        else:
            kept_rows = self._apply_deletes(
                self.spark.read.schema(
                    self._spark_schema(meta)
                ).parquet(*sorted(affected)),
                snap, meta,
            )
        return self._rewrite_files(
            affected, kept_rows, "replace", carry_deletes=False
        )

    def merge(
        self,
        source: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | str | None = None,
        matched_update_condition: str | None = None,
        when_matched_delete: bool | str = False,
        when_not_matched_insert: dict[str, str] | str | None = None,
        not_matched_insert_condition: str | None = None,
        when_not_matched_by_source_delete: bool | str = False,
    ) -> int:
        """MERGE INTO, Iceberg-style: the same clause surface as the
        Delta twin (shared staging in ``plans/merge_clauses`` — see
        there for semantics), physically committed MERGE-ON-READ as
        ONE snapshot: every displaced target row (matched update,
        matched delete, by-source delete) dies via equality-delete
        files on the key, and updated + inserted rows append as new
        data files — the Flink-CDC write shape, O(changed rows)
        bytes however large the touched files are. The staging join
        reads ONLY the files whose manifest bounds can contain a
        source key (``_bounds_touched_files`` — rows of every other
        file are kept by construction and never rewrite); a by-source
        clause must consider every row and scans all files. The
        strict sequence rule makes the one-snapshot combination sound: the
        delete and the new data files share the commit's sequence
        number, and an equality delete at sequence s kills only data
        with sequence < s, so a merge can never eat its own output."""
        from ..plans.merge_clauses import (
            check_ambiguous_source, merged_column, normalize_clauses,
            require_some_clause, stage_merge,
        )

        require_some_clause(
            when_matched_update, when_matched_delete,
            when_not_matched_insert,
            when_not_matched_by_source_delete,
        )
        meta = self.metadata()
        snap = self._snapshot_by(meta, None)
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        cols = [f["name"] for f in fields]
        if on not in cols:
            raise ValueError(f"merge key {on!r} not a target column")
        if on not in source.columns:
            raise ValueError(f"merge key {on!r} not a source column")
        upd, ins = normalize_clauses(
            cols, when_matched_update, when_not_matched_insert
        )
        spark_schema = self._spark_schema(meta)
        by_name = {f.name: f for f in spark_schema.fields}
        if when_not_matched_by_source_delete is not False:
            # by-source looks at every target row
            files = self._files_of_snapshot(snap)
        else:
            # bounds-prune to files that can hold a source key — rows
            # of every other file are K (kept) by construction and,
            # merge-on-read, never rewrite; the staging join shrinks
            # from O(table) to O(touched files)
            files = sorted(self._touched_files_for_keys(on, source)[0])
        rt_on = "next-row-id" in meta
        if files:
            if rt_on:
                # v3 Row Lineage through MERGE: updated rows keep
                # their id (materialized in the batch's new files,
                # old copies die via the equality delete); kept rows
                # never rewrite under merge-on-read
                current = self._read_with_lineage(
                    snap, meta, only=set(files)
                )
            else:
                current = self._apply_deletes(
                    self.spark.read.schema(spark_schema)
                    .parquet(*files),
                    snap, meta,
                )
        else:
            e_schema = spark_schema
            if rt_on:
                e_schema = T.StructType(spark_schema.fields + [
                    T.StructField(_ROW_ID_COL, T.LongType(), True),
                    T.StructField(_LUSN_COL, T.LongType(), True),
                ])
            current = self.spark.createDataFrame([], e_schema)
        if upd or when_matched_delete is not False:
            check_ambiguous_source(current, source, on)
        staged = stage_merge(
            current, source, on,
            upd, matched_update_condition, when_matched_delete,
            ins, not_matched_insert_condition,
            when_not_matched_by_source_delete,
        )
        # one pass, cached across the two consumers (doomed keys and
        # new rows) so the join does not recompute
        staged = staged.persist()
        try:
            doomed_keys = staged.where(
                F.col("__act").isin("U", "D")
            ).select(F.col(f"t.{on}").alias(on))
            lineage_cols = [] if not rt_on else [
                F.when(F.col("__act") == "U",
                       F.col(f"t.{_ROW_ID_COL}"))
                .alias(_ROW_ID_COL),
                F.lit(None).cast("long").alias(_LUSN_COL),
            ]
            new_rows = staged.where(
                F.col("__act").isin("U", "I")
            ).select(*[
                merged_column(c, by_name[c], upd, ins) for c in cols
            ], *lineage_cols)
            delete_files = self._write_equality_delete_files(
                doomed_keys, [on]
            )
            data_files = self._write_data_files(new_rows)
        finally:
            staged.unpersist()
        if not delete_files and not data_files:
            return meta["current-snapshot-id"]  # no-op merge
        return self._commit_mor(data_files, delete_files, "overwrite")

    def _key_bounds(self, key: str) -> tuple[set[str], list[tuple]]:
        """Per-data-file manifest bounds for ``key``: files WITHOUT
        decodable bounds (no stats, or date/timestamp/boolean bound
        encodings) in an always-candidate set, the rest as
        (file_path, lo, hi) tuples. O(files), metadata-only."""
        meta = self.metadata()
        fld = next(
            f for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"] if f["name"] == key
        )
        always: set[str] = set()
        bounds: list[tuple] = []
        for e in self._entries_of_current():
            d = e["data_file"]
            f_lo = next((b["value"] for b in (d.get("lower_bounds")
                        or []) if b["key"] == fld["id"]), None)
            f_hi = next((b["value"] for b in (d.get("upper_bounds")
                        or []) if b["key"] == fld["id"]), None)
            if f_lo is None or f_hi is None:
                always.add(d["file_path"])  # no bounds: no skip
                continue
            vlo = _bound_value(f_lo, fld["type"])
            vhi = _bound_value(f_hi, fld["type"])
            if vlo is None or vhi is None:
                # undecodable bound type: conservative no-skip
                always.add(d["file_path"])
                continue
            bounds.append((d["file_path"], vlo, vhi))
        return always, bounds

    def _bounds_touched_files(
        self, key: str, keys: list
    ) -> set[str]:
        """Data files whose manifest [lower, upper] bounds for ``key``
        can contain any of the SORTED ``keys`` — the metadata-only
        file pruning behind ``upsert`` and ``merge``. Files without
        decodable bounds stay touched (conservative no-skip)."""
        import bisect

        if not keys:
            return set()
        always, bounds = self._key_bounds(key)
        touched = set(always)
        for path, vlo, vhi in bounds:
            i = bisect.bisect_left(keys, vlo)
            if i < len(keys) and keys[i] <= vhi:
                touched.add(path)
        return touched

    def _touched_files_for_keys(
        self, key: str, df: DataFrame
    ) -> tuple[set[str], int]:
        """(touched file paths, distinct-key count) for a merge/upsert
        batch. Driver-bounded by a constant: small batches collect the
        keys and bisect (historical path); larger batches prune via
        the distributed stats binary-search — the driver receives only
        per-file verdicts (sources/keyindex.py)."""
        from . import keyindex

        keys_df = keyindex.distinct_keys(df, key)
        small = keyindex.collect_keys_if_small(keys_df)
        if small is not None:
            return (
                self._bounds_touched_files(key, sorted(small)),
                len(small),
            )
        n_keys = keys_df.count()
        always, bounds = self._key_bounds(key)
        hit = keyindex.stats_prune_distributed(keys_df, bounds)
        return always | hit, n_keys

    @staticmethod
    def _attach_stored_row_ids(
        merged: DataFrame, stored: DataFrame, key: str,
        precombine: str,
    ) -> DataFrame:
        """v3 Row Lineage merge rule — the SHARED rule both formats
        state identically (delta_log.attach_stored_row_ids): a row
        that replaces a stored key keeps that key's ``_row_id``."""
        from .delta_log import attach_stored_row_ids

        return attach_stored_row_ids(
            merged, stored, key, precombine, _ROW_ID_COL
        )

    def upsert(self, incoming: DataFrame, key: str,
               precombine: str, mode: str = "auto",
               mor_threshold: float = 0.2) -> int:
        """Hudi-style merge, bounds-pruned: only files whose manifest
        [lower, upper] range for ``key`` can contain an incoming key
        participate — decided from metadata alone.

        Physical strategy (like ``delete_where``): ``cow`` rewrites
        the touched files merged; ``mor`` position-deletes the stored
        rows the batch beats and appends the batch as new data files —
        O(batch) write cost however large the touched files are.
        ``auto`` picks mor when the batch's distinct-key count (an
        upper bound on rows displaced) is < mor_threshold of the
        touched files' rows — a metadata-only decision."""
        if mode not in ("auto", "mor", "cow"):
            raise ValueError(f"unknown upsert mode {mode!r}")
        from .delta_log import merge_precombine, precombine_latest

        inc = precombine_latest(incoming, key, precombine)
        meta = self.metadata()
        touched, n_keys = self._touched_files_for_keys(key, inc)
        snap = self._snapshot_by(meta, None)
        existing_deletes = self._delete_files_of_snapshot(snap)
        if not touched:
            if existing_deletes:
                # nothing to merge; pure append keeps delete manifests
                return self._commit_mor(
                    self._write_data_files(inc), [], "overwrite"
                )
            return self._rewrite_files(set(), inc, "overwrite")

        touched_rows = sum(
            e["data_file"]["record_count"]
            for e in self._entries_of_snapshot(snap, content=0)
            if e["data_file"]["file_path"] in touched
        )
        use_mor = mode == "mor" or (
            mode == "auto"
            and n_keys < mor_threshold * touched_rows
        )
        lineage_on = "next-row-id" in meta
        if lineage_on:
            # v3 Row Lineage: stored rows carry their effective
            # _row_id/_last_updated_sequence_number so UPDATES keep
            # the row id (materialized in the rewritten files) while
            # their sequence number inherits from the NEW commit
            stored = self._read_with_lineage(
                snap, meta, only=set(touched)
            )
            inc = (
                inc.withColumn(_ROW_ID_COL,
                               F.lit(None).cast("long"))
                .withColumn(_LUSN_COL, F.lit(None).cast("long"))
            )
        else:
            stored = self._apply_deletes(
                self.spark.read.schema(
                    self._spark_schema(meta)
                ).parquet(*sorted(touched)),
                snap, meta,
            )
        if not use_mor:
            # bounds pruning is a superset: keep rows whose key is NOT
            # actually incoming, merge the rest
            merged = merge_precombine(stored, inc, key, precombine)
            if lineage_on:
                merged = self._attach_stored_row_ids(
                    merged, stored, key, precombine
                )
            return self._rewrite_files(touched, merged, "overwrite")

        # -- merge-on-read: displaced stored rows die via ONE
        # EQUALITY-delete file on the key column (the CDC writer
        # shape): it applies to data files with sequence number
        # STRICTLY below this commit's, so the batch's own files —
        # committed at the same sequence — survive, and every older
        # stored copy of a winning key dies, however many plain
        # appends created them. No stored-file positions needed —
        # the only distributed read is the precombine probe.
        smax = stored.groupBy(key).agg(
            F.max(precombine).alias("__smax")
        )
        winners = inc.join(smax, key, "left").where(
            F.col("__smax").isNull()
            | (F.col(precombine) >= F.col("__smax"))
        ).drop("__smax")
        if lineage_on:
            # updated rows keep the stored row id (materialized in the
            # batch's new files); fresh inserts stay NULL and inherit
            winners = self._attach_stored_row_ids(
                winners, stored, key, precombine
            )
        delete_files = self._write_equality_delete_files(
            winners.select(key), [key]
        )
        data_files = self._write_data_files(winners)
        if not data_files and not delete_files:
            return meta["current-snapshot-id"]
        return self._commit_mor(data_files, delete_files, "overwrite")

    def delete_where(
        self,
        condition,
        mode: str = "auto",
        mor_threshold: float = 0.2,
    ) -> int:
        """Delete matching rows. Two physical strategies, chosen from
        the matched-row fraction of the touched files (one distributed
        membership job either way):

        - ``mor`` (merge-on-read, v2 position deletes): write small
          parquet files of (file_path, pos) and a content=1 manifest;
          no data file is rewritten. The scale plan — a 3-row delete
          against multi-GB files costs O(3 rows), and readers merge
          via the anti-join in ``_apply_position_deletes``.
        - ``cow`` (copy-on-write): rewrite the touched files without
          the matched rows — right when a large fraction dies, since
          it keeps reads merge-free and reclaims bytes now.

        ``auto`` picks mor when matched/touched-rows < mor_threshold.
        ``dv`` is the format-version 3 shape of mor: positions land in
        `deletion-vector-v1` Puffin blobs instead of parquet delete
        files (one live DV per data file, merged on re-delete).
        """
        if mode not in ("auto", "mor", "cow", "dv"):
            raise ValueError(f"unknown delete mode {mode!r}")
        meta = self.metadata()
        snap = self._snapshot_by(meta, None)
        files = self._files_of_snapshot(snap)
        if not files:
            return meta["current-snapshot-id"]
        existing_deletes = self._delete_files_of_snapshot(snap)
        existing_dvs = self._dv_entries_of_snapshot(snap)
        scan = self.spark.read.schema(self._spark_schema()).parquet(*files).withColumn(
            "__fname",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        dels = None
        if existing_deletes:
            dels = self._read_pos_deletes(existing_deletes)
        if existing_dvs:
            dv = self._read_dv_positions(existing_dvs)
            dels = dv if dels is None else dels.unionByName(dv)
        if dels is not None:
            scan = scan.join(
                dels.select(
                    F.substring_index(F.col("file_path"), "/", -1)
                    .alias("__fname"),
                    F.col("pos").alias("__pos"),
                ),
                ["__fname", "__pos"], "left_anti",
            )
        scan = self._apply_equality_deletes(scan, snap, meta)
        matched = scan.where(condition)
        per_file = {
            r["__fname"]: r["n"]
            for r in matched.groupBy("__fname")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }  # O(touched files)
        if not per_file:
            return self.metadata()["current-snapshot-id"]
        by_name = {
            os.path.basename(e["data_file"]["file_path"]):
                e["data_file"]
            for e in self._entries_of_snapshot(snap, content=0)
        }
        touched_rows = sum(
            by_name[fn]["record_count"] for fn in per_file
        )
        n_matched = sum(per_file.values())
        if mode == "dv":
            return self._commit_dv(self._matched_to_delete_rows(
                matched.select("__fname", "__pos")
            ).drop("_pdir"))
        if mode == "mor" or (
            mode == "auto"
            and n_matched < mor_threshold * touched_rows
        ):
            delete_rows = self._matched_to_delete_rows(
                matched.select("__fname", "__pos")
            )
            delete_files = self._write_position_delete_files(
                delete_rows
            )
            return self._commit_mor([], delete_files, "delete")
        replaced = {
            by_name[fn]["file_path"] for fn in per_file
        }
        kept_rows = scan.where(
            F.col("__fname").isin(sorted(per_file))
        ).where(~condition).drop("__fname", "__pos")
        return self._rewrite_files(replaced, kept_rows, "delete")

    # --------------------------------------------------------- reads
    def _manifest_list_rows(
        self, meta: dict, sid: int | None = None
    ) -> list[dict]:
        if sid is None:
            sid = meta.get("current-snapshot-id")
        if sid is None or sid == -1:
            return []
        snap = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == sid
        )
        # memoized (immutable file) + per-row copies: callers patch
        # counters (e.g. deleted_files_count) on carried rows
        return [{**m} for m in _ocf_rows(snap["manifest-list"])]

    def _files_of_snapshot(self, snap: dict) -> list[str]:
        """Live DATA file paths of a snapshot (content=0 manifests)."""
        return sorted(
            e["data_file"]["file_path"]
            for e in self._entries_of_snapshot(snap, content=0)
        )

    def _delete_files_of_snapshot(self, snap: dict) -> list[str]:
        """Live v2 POSITION-DELETE parquet paths — content=1 manifests
        hold both delete kinds; position files are data_file
        content=1, equality files content=2 (see
        ``_equality_deletes_of_snapshot``). v3 deletion vectors are
        also content=1 but live in PUFFIN files — excluded here (see
        ``_dv_entries_of_snapshot``)."""
        return sorted(
            e["data_file"]["file_path"]
            for e in self._entries_of_snapshot(snap, content=1)
            if e["data_file"].get("content", 1) == 1
            and e["data_file"].get("file_format") != "PUFFIN"
        )

    def _dv_entries_of_snapshot(self, snap: dict) -> list[dict]:
        """Live v3 deletion-vector entries (content=1, PUFFIN): each
        addresses one deletion-vector-v1 blob and names the single
        data file it applies to (spec fields 143-145)."""
        return sorted(
            (
                e["data_file"]
                for e in self._entries_of_snapshot(snap, content=1)
                if e["data_file"].get("content", 1) == 1
                and e["data_file"].get("file_format") == "PUFFIN"
            ),
            key=lambda d: (d["file_path"],
                           d.get("content_offset") or 0),
        )

    _DV_POS_SCHEMA = "file_path string, pos long"

    def _inline_pos_map(
        self, pos_paths: list[str], dv_entries: list[dict]
    ) -> dict[str, list[int]] | None:
        """Driver-side (basename -> deleted positions) for TINY delete
        sets, or None when the set is not provably tiny. Bounded
        BEFORE reading data: parquet footers give exact row counts for
        position-delete files, manifests carry cardinality for DV
        blobs; only sets under ``SPARK_GRAFT_INLINE_DELETE_ROWS``
        (default 2000) are read. Purpose: a changelog/delete-apply
        join against a 3-row delete relation costs a broadcast-build
        JOB (~0.1 s each, and the iceberg changelog gates ran 10 of
        them); inlining the positions as a literal predicate removes
        the join entirely. Bigger sets keep the (stats-broadcast) join
        — the same scale guard as _BROADCAST_DELETE_ROWS."""
        cap = _INLINE_DELETE_ROWS
        if cap <= 0:
            return None
        import pyarrow.parquet as pq

        try:
            total = 0
            for p in pos_paths:
                total += pq.ParquetFile(p).metadata.num_rows
                if total > cap:
                    return None
            for d in dv_entries:
                rc = d.get("record_count")
                if rc is None:
                    return None
                total += int(rc)
                if total > cap:
                    return None
            out: dict[str, list[int]] = {}
            for p in pos_paths:
                t = pq.read_table(p, columns=["file_path", "pos"])
                for fp, pos in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    out.setdefault(
                        os.path.basename(fp), []
                    ).append(int(pos))
            if dv_entries:
                from .puffin import decode_dv_payload

                for d in dv_entries:
                    with open(d["file_path"], "rb") as f:
                        f.seek(int(d["content_offset"]))
                        payload = f.read(
                            int(d["content_size_in_bytes"])
                        )
                    out.setdefault(
                        os.path.basename(d["referenced_data_file"]),
                        [],
                    ).extend(int(p) for p in decode_dv_payload(payload))
        except Exception:
            return None  # unreadable/odd layout: join path handles it
        return {k: sorted(set(v)) for k, v in out.items()}

    @staticmethod
    def _pos_deleted_pred(pos_map: dict[str, list[int]]):
        """Boolean column: this (__fname, __pos) row IS deleted, per a
        driver-inlined position map. False (not null) for files with
        no deletions, so both keep-filters (~pred) and probe-filters
        (pred) behave like the anti/semi joins they replace."""
        entries = []
        for fname in sorted(pos_map):
            entries.append(F.lit(fname))
            entries.append(F.array(
                *[F.lit(p) for p in pos_map[fname]]
            ))
        mp = F.create_map(*entries)
        return F.coalesce(
            F.array_contains(
                F.element_at(mp, F.col("__fname")), F.col("__pos")
            ),
            F.lit(False),
        )

    def _read_dv_positions(self, dv_entries: list[dict]) -> DataFrame:
        """Deletion vectors → (file_path, pos) rows, decoded on the
        EXECUTORS: each task reads only its blob's byte range from the
        Puffin file (content_offset/content_size_in_bytes — the whole
        point of addressing blobs from the manifest) and expands the
        roaring bitmap; the driver ships O(entries) descriptors, never
        positions."""
        import pandas as pd

        desc = self.spark.createDataFrame(
            [
                (d["file_path"], int(d["content_offset"]),
                 int(d["content_size_in_bytes"]),
                 d["referenced_data_file"])
                for d in dv_entries
            ],
            "puffin string, off long, size long, data_file string",
        )

        def expand(batches):
            from fda_clinical_etl_pipeline_spark.sources.puffin import (
                decode_dv_payload,
            )

            for pdf in batches:
                out_f, out_p = [], []
                for puffin, off, size, data_file in zip(
                    pdf["puffin"], pdf["off"], pdf["size"],
                    pdf["data_file"],
                ):
                    with open(puffin, "rb") as f:
                        f.seek(int(off))
                        payload = f.read(int(size))
                    for pos in decode_dv_payload(payload):
                        out_f.append(data_file)
                        out_p.append(pos)
                yield pd.DataFrame(
                    {"file_path": out_f, "pos": out_p}
                )

        return desc.repartition(
            max(1, min(len(dv_entries),
                       self.spark.sparkContext.defaultParallelism))
        ).mapInPandas(expand, self._DV_POS_SCHEMA)

    def _apply_position_deletes(
        self, df: DataFrame, delete_paths: list[str]
    ) -> DataFrame:
        """Reader-side merge of v2 position deletes: anti-join the scan
        on (file, row position). ``_metadata.row_index`` is the exact
        row position the spec's ``pos`` field names; the join key is
        the file BASENAME because every data file's name embeds a
        uuid (both the twin's 12-hex prefix and Spark's part-file task
        uuid), so basenames are globally unique and sidestep the
        URI-vs-path encoding mismatch between ``_metadata.file_path``
        and the manifest's plain paths."""
        if not delete_paths:
            return df
        dels = (
            self._read_pos_deletes(delete_paths)
            .select(
                F.substring_index(F.col("file_path"), "/", -1)
                .alias("__fname"),
                F.col("pos").alias("__pos"),
            )
        )
        tagged = df.withColumn(
            "__fname",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        return tagged.join(
            dels, ["__fname", "__pos"], "left_anti"
        ).drop("__fname", "__pos")

    def _snapshot_by(self, meta: dict, snapshot_id: int | None) -> dict:
        sid = (
            meta["current-snapshot-id"] if snapshot_id is None
            else snapshot_id
        )
        for s in meta["snapshots"]:
            if s["snapshot-id"] == sid:
                return s
        raise ValueError(f"unknown snapshot {snapshot_id}")

    def snapshot(
        self, snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        meta = self.metadata()
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            r = meta.get("refs", {}).get(ref)
            if r is None:
                raise ValueError(f"no ref named {ref!r}")
            snapshot_id = r["snapshot-id"]
        snap = self._snapshot_by(meta, snapshot_id)
        files = self._files_of_snapshot(snap)
        if not files:
            return self.spark.createDataFrame(
                [], self._spark_schema(meta)
            )
        # pin the current schema: files written before an add_column
        # lack the new field and must surface it as NULL — the spec's
        # read semantics — instead of depending on which file's footer
        # Spark samples
        df = self.spark.read.schema(self._spark_schema(meta)).parquet(*files)
        return self._apply_deletes(df, snap, meta)

    def snapshot_lineage(
        self, snapshot_id: int | None = None
    ) -> DataFrame:
        """Current rows PLUS the v3 Row Lineage columns ``_row_id``
        and ``_last_updated_sequence_number`` (spec Row Lineage):
        each derives per row as COALESCE(materialized column,
        inherited value) — inheritance being the data file's
        ``first_row_id`` + row position, and its data sequence
        number. The per-file constants ride ONE broadcast O(files)
        relation; files from before ``enable_row_lineage`` read as
        NULL lineage, per the spec's upgrade semantics."""
        meta = self.metadata()
        snap = self._snapshot_by(meta, snapshot_id)
        return self._read_with_lineage(snap, meta)

    def _read_with_lineage(
        self, snap: dict, meta: dict, only: set | None = None
    ) -> DataFrame:
        """Lineage read core (``only`` restricts to a file subset —
        the upsert paths read just the touched files)."""
        entries = [
            e for e in self._entries_of_snapshot(snap, content=0)
            if only is None or e["data_file"]["file_path"] in only
        ]
        schema = self._spark_schema(meta)
        for name, _fid in _LINEAGE_FIELDS:
            schema = schema.add(name, T.LongType(), True)
        if not entries:
            return self.spark.createDataFrame([], schema)
        per_file = [
            (
                os.path.basename(e["data_file"]["file_path"]),
                e["data_file"].get("first_row_id"),
                e["sequence_number"],
            )
            for e in entries
        ]
        files = [e["data_file"]["file_path"] for e in entries]
        lineage = self.spark.createDataFrame(
            per_file, "__fname string, __first long, __seq long"
        )
        tagged = (
            self.spark.read.schema(schema).parquet(*files)
            .withColumn(
                "__fname",
                F.substring_index(F.col("_metadata.file_path"),
                                  "/", -1),
            )
            .withColumn("__pos", F.col("_metadata.row_index"))
            .join(F.broadcast(lineage), "__fname", "left")
            .withColumn(
                _ROW_ID_COL,
                F.coalesce(F.col(_ROW_ID_COL),
                           F.col("__first") + F.col("__pos")),
            )
            .withColumn(
                _LUSN_COL,
                F.coalesce(F.col(_LUSN_COL), F.col("__seq")),
            )
            .drop("__first", "__seq")
        )
        return self._apply_deletes(tagged, snap, meta,
                                   pre_tagged=True)

    def timestamp_as_of(self, epoch_s: float) -> DataFrame:
        meta = self.metadata()
        cut = int(epoch_s * 1000)
        eligible = [
            s for s in meta["snapshots"] if s["timestamp-ms"] <= cut
        ]
        if not eligible:
            raise ValueError("no snapshot at or before that time")
        best = max(eligible, key=lambda s: s["timestamp-ms"])
        return self.snapshot(best["snapshot-id"])

    def _entries_of_current(self) -> list[dict]:
        return self._entries_of_snapshot(
            self._snapshot_by(self.metadata(), None)
        )

    def _entries_of_snapshot(
        self, snap: dict, content: int = 0
    ) -> list[dict]:
        """Live manifest entries of one content kind (0 = data,
        1 = position deletes); a manifest holds only one kind.

        Manifest and manifest-list files are IMMUTABLE by spec (a
        commit writes new ones, never rewrites), so their decoded
        rows memoize safely (``_ocf_rows``) — changelog/diff planning
        visits each snapshot as both 'current' and 'parent' and
        would otherwise re-decode every manifest ~6x per window.
        Entries are returned as per-entry shallow copies because
        ``_rewrite_files`` mutates ``status`` on carried entries."""
        entries = []
        for m in _ocf_rows(snap["manifest-list"]):
            if m.get("content", 0) != content:
                continue
            entries += [
                {**e} for e in _ocf_rows(m["manifest_path"])
                if e["status"] != 2
            ]
        return entries

    def incremental_scan(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental APPEND scan: the rows added after
        ``from_snapshot_id`` (exclusive) up to ``to_snapshot_id``
        (inclusive; default current) — Iceberg's incremental-read
        contract, resolved purely from metadata: data files in the
        end snapshot whose ``sequence_number`` lands in the range.
        Snapshots in the range with a non-append operation REFUSE
        (their row-level changes are not representable as appends —
        the same error the reference Iceberg reader raises). This is
        the consumption primitive an incremental pipeline needs to
        process a table version-to-version without rescanning."""
        meta = self.metadata()
        to_snap = self._snapshot_by(meta, to_snapshot_id)
        from_snap = self._snapshot_by(meta, from_snapshot_id)
        from_seq = from_snap["sequence-number"]
        to_seq = to_snap["sequence-number"]
        if to_seq < from_seq:
            raise ValueError(
                "to_snapshot is older than from_snapshot"
            )
        non_append = [
            s["snapshot-id"] for s in meta["snapshots"]
            if from_seq < s["sequence-number"] <= to_seq
            and s["summary"]["operation"] != "append"
        ]
        if non_append:
            raise ValueError(
                f"snapshots {non_append} in the range are not "
                "appends; incremental scan only supports append "
                "history"
            )
        files = sorted(
            e["data_file"]["file_path"]
            for e in self._entries_of_snapshot(to_snap)
            if from_seq < (e["sequence_number"] or 0) <= to_seq
        )
        if not files:
            return self.snapshot(to_snap["snapshot-id"]).limit(0)
        return self.spark.read.schema(self._spark_schema()).parquet(*files)

    def changelog_scan(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg changelog scan — the CDF twin of the Delta
        ``table_changes`` and Hudi ``incremental_read``: every
        row-level change in ``(from, to]`` with the changelog table's
        metadata columns ``_change_type`` (insert/delete),
        ``_commit_snapshot_id`` and ``_change_ordinal``.

        Per snapshot, resolved from the manifest diff against its
        parent (metadata first, data reads O(changed files) only):

        - added data files -> their rows as ``insert``;
        - removed data files (copy-on-write rewrites) -> their
          parent-time LIVE rows as ``delete``;
        - delete files new in the snapshot -> the killed rows of
          carried data files as ``delete`` (position deletes by
          (file, pos); equality deletes by value under the strict
          sequence rule);
        - ``replace`` snapshots (compaction, rewrite_manifests) emit
          NOTHING — the data is identical, exactly the changelog
          contract.

        Copy-on-write rewrites report carried rows as delete+insert
        churn (file-level truth, same as Iceberg's changelog table
        without net-changes folding); the merge-on-read paths
        (``merge``, mor upsert/delete) emit exact row-level deltas."""
        meta = self.metadata()
        schema = self._spark_schema(meta)
        cols = [f.name for f in schema.fields]
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        id_fields = {
            f["id"]: f
            for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"]
        }
        to_snap = self._snapshot_by(meta, to_snapshot_id)
        from_seq = -1
        if from_snapshot_id is not None:
            from_seq = self._snapshot_by(
                meta, from_snapshot_id
            )["sequence-number"]
        to_seq = to_snap["sequence-number"]
        window = sorted(
            (s for s in meta["snapshots"]
             if from_seq < s["sequence-number"] <= to_seq),
            key=lambda s: s["sequence-number"],
        )
        meta_cols = T.StructType(list(schema.fields) + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_snapshot_id", T.LongType(), False),
            T.StructField("_change_ordinal", T.IntegerType(), False),
        ])
        parts: list[DataFrame] = []

        def _tag(df: DataFrame, ctype: str, sid: int,
                 ordinal: int) -> DataFrame:
            return df.select(
                *cols,
                F.lit(ctype).alias("_change_type"),
                F.lit(sid).cast("long")
                .alias("_commit_snapshot_id"),
                F.lit(ordinal).cast("int").alias("_change_ordinal"),
            )

        ordinal = 0
        for s in window:
            if s["summary"]["operation"] == "replace":
                continue
            parent = by_id.get(s.get("parent-snapshot-id"))
            cur = {
                e["data_file"]["file_path"]: e
                for e in self._entries_of_snapshot(s)
            }
            par = {} if parent is None else {
                e["data_file"]["file_path"]: e
                for e in self._entries_of_snapshot(parent)
            }
            added = sorted(p for p in cur if p not in par)
            removed = sorted(p for p in par if p not in cur)
            kept = sorted(p for p in cur if p in par)
            emitted = False
            if added:
                parts.append(_tag(
                    self.spark.read.schema(schema).parquet(*added),
                    "insert", s["snapshot-id"], ordinal,
                ))
                emitted = True
            if removed:
                doomed = self.spark.read.schema(schema).parquet(
                    *removed
                )
                if parent is not None:
                    doomed = self._apply_deletes(doomed, parent, meta)
                parts.append(_tag(
                    doomed, "delete", s["snapshot-id"], ordinal,
                ))
                emitted = True
            # delete files NEW in this snapshot, applied to carried
            # data files (by basename for positions, by value + the
            # strict sequence rule for equality deletes)
            new_pos = sorted(
                set(self._delete_files_of_snapshot(s))
                - (set(self._delete_files_of_snapshot(parent))
                   if parent is not None else set())
            )
            par_eq_paths = {
                e["path"]
                for e in (self._equality_deletes_of_snapshot(parent)
                          if parent is not None else [])
            }
            new_eq = [
                e for e in self._equality_deletes_of_snapshot(s)
                if e["path"] not in par_eq_paths
            ]
            # v3 deletion vectors new in s: a re-delete REPLACES a
            # file's DV (merged positions, new blob), so compare by
            # blob address, not just puffin path
            par_dv_keys = {
                (d["file_path"], d.get("content_offset"))
                for d in (self._dv_entries_of_snapshot(parent)
                          if parent is not None else [])
            }
            new_dv = [
                d for d in self._dv_entries_of_snapshot(s)
                if (d["file_path"], d.get("content_offset"))
                not in par_dv_keys
            ]
            kept_scan = sorted(
                set(
                    self._narrow_kept_to_delete_targets(
                        kept, cur, new_pos, new_eq, id_fields
                    ) if (new_pos or new_eq) else []
                )
                # DV entries NAME their victim file — exact narrowing
                | ({d["referenced_data_file"] for d in new_dv}
                   & set(kept))
            ) if kept and (new_pos or new_eq or new_dv) else []
            if kept and (new_pos or new_eq or new_dv) and kept_scan:
                base = self.spark.read.schema(schema).parquet(
                    *kept_scan
                ).withColumn(
                    "__fname",
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ),
                ).withColumn("__pos", F.col("_metadata.row_index"))
                if parent is not None:
                    # rows already dead at the parent cannot die
                    # again — apply the parent's deletes TAG-
                    # PRESERVING (the generic _apply_deletes drops
                    # the position tags the probe below needs)
                    par_pos = self._delete_files_of_snapshot(parent)
                    par_dv = self._dv_entries_of_snapshot(parent)
                    if par_pos or par_dv:
                        # tiny sets: literal predicate, no anti-join
                        pm0 = self._inline_pos_map(par_pos, par_dv)
                        if pm0 is not None:
                            base = base.filter(
                                ~self._pos_deleted_pred(pm0)
                            )
                            par_pos, par_dv = [], []
                    dels0 = None
                    if par_pos:
                        dels0 = self._read_pos_deletes(par_pos)
                    if par_dv:
                        pdv = self._read_dv_positions(par_dv)
                        dels0 = (pdv if dels0 is None
                                 else dels0.unionByName(pdv))
                    if dels0 is not None:
                        base = base.join(
                            dels0.select(
                                F.substring_index(
                                    F.col("file_path"), "/", -1
                                ).alias("__fname"),
                                F.col("pos").alias("__pos"),
                            ),
                            ["__fname", "__pos"], "left_anti",
                        )
                    if self._equality_deletes_of_snapshot(parent):
                        base = self._apply_equality_deletes(
                            base, parent, meta
                        )
                killed = None
                if new_pos or new_dv:
                    pmn = self._inline_pos_map(new_pos, new_dv)
                    if pmn is not None:
                        # tiny sets: probe as a literal predicate
                        killed = base.filter(
                            self._pos_deleted_pred(pmn)
                        )
                    else:
                        dels = None
                        if new_pos:
                            dels = self._read_pos_deletes(new_pos)
                        if new_dv:
                            ndv = self._read_dv_positions(new_dv)
                            dels = (ndv if dels is None
                                    else dels.unionByName(ndv))
                        killed = base.join(
                            dels.select(
                                F.substring_index(
                                    F.col("file_path"), "/", -1
                                ).alias("__fname"),
                                F.col("pos").alias("__pos"),
                            ),
                            ["__fname", "__pos"], "leftsemi",
                        )
                if new_eq:
                    # the s-level probe equals new-delete victims:
                    # rows older eq deletes could kill were already
                    # filtered out of base by the parent application
                    eq_killed = self._apply_equality_deletes(
                        base, s, meta, anti=False
                    )
                    killed = (
                        eq_killed if killed is None
                        else killed.unionByName(
                            eq_killed, allowMissingColumns=True
                        ).dropDuplicates(["__fname", "__pos"])
                    )
                if killed is not None:
                    parts.append(_tag(
                        killed.drop("__fname", "__pos"),
                        "delete", s["snapshot-id"], ordinal,
                    ))
                    emitted = True
            elif kept and (new_pos or new_eq or new_dv):
                # narrowing proved no kept file can lose a row, but
                # the snapshot still carried new deletes: keep the
                # pre-narrowing ordinal assignment (an empty killed
                # frame used to claim this ordinal)
                emitted = True
            if emitted:
                ordinal += 1
        if not parts:
            return self.spark.createDataFrame([], meta_cols)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _narrow_kept_to_delete_targets(
        kept: list[str],
        cur: dict[str, dict],
        new_pos: list[str],
        new_eq: list[dict],
        fields: dict[int, dict],
    ) -> list[str]:
        """Restrict a changelog snapshot's carried-file scan to files
        that CAN lose rows to the snapshot's new delete files — the
        scale guard that keeps a 3-row CDC delete from rescanning the
        whole table:

        - position deletes NAME their targets: the parquet footer's
          min/max of the ``file_path`` column (one bounded driver-side
          footer read per delete file, O(delete files)) bounds the
          victim set; a kept file outside every delete file's range
          cannot be hit. Footerless stats fall back to all kept.
        - equality deletes match on a VALUE tuple: a kept file whose
          manifest column bounds are disjoint from the delete file's
          footer bounds on ANY equality column cannot lose a row —
          the same bounds intersection the merge staging prunes with.
          (The sequence rule never prunes here: a delete new at s
          always outranks every file kept from the parent.)
        """
        import pyarrow.parquet as pq

        want: set[str] = set()
        for dp in new_pos:
            ranges: list[tuple[str, str]] = []
            try:
                md = pq.ParquetFile(dp).metadata
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(0).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("no file_path stats")
                    ranges.append((st.min, st.max))
            except Exception:
                return sorted(kept)  # stats unavailable: exact fallback
            for p in kept:
                if any(lo <= p <= hi for lo, hi in ranges):
                    want.add(p)

        def _entry_bounds(entry: dict, fid: int):
            d = entry["data_file"]
            lo = next((b["value"] for b in (d.get("lower_bounds")
                                            or []) if b["key"] == fid),
                      None)
            hi = next((b["value"] for b in (d.get("upper_bounds")
                                            or []) if b["key"] == fid),
                      None)
            t = fields[fid]["type"]
            return (
                _bound_value(bytes(lo), t) if lo is not None else None,
                _bound_value(bytes(hi), t) if hi is not None else None,
            )

        for e in new_eq:
            try:
                pf = pq.ParquetFile(e["path"])
                names = pf.schema_arrow.names
                del_rng: dict[int, tuple] = {}
                for fid in e["ids"]:
                    col = names.index(fields[fid]["name"])
                    lo = hi = None
                    for rg in range(pf.metadata.num_row_groups):
                        st = pf.metadata.row_group(rg).column(
                            col
                        ).statistics
                        if st is None or not st.has_min_max:
                            raise ValueError("no stats")
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    del_rng[fid] = (lo, hi)
            except Exception:
                return sorted(kept)  # exact fallback
            for p in kept:
                hit = True
                for fid, (dlo, dhi) in del_rng.items():
                    flo, fhi = _entry_bounds(cur[p], fid)
                    if flo is None or fhi is None:
                        continue  # no bounds: cannot prune this col
                    try:
                        if flo > dhi or fhi < dlo:
                            hit = False
                            break
                    except TypeError:
                        continue  # incomparable types: never prune
                if hit:
                    want.add(p)
        return sorted(want)

    def skipped_files(
        self, column: str, lo=None, hi=None
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for ``lo <= column <= hi`` decided
        from manifest bounds alone — zero data reads, the same skipping
        an external Iceberg reader performs."""
        meta = self.metadata()
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        fld = next(f for f in fields if f["name"] == column)
        cands, skipped = [], []
        for e in self._entries_of_current():
            d = e["data_file"]
            f_lo = next(
                (b["value"] for b in (d.get("lower_bounds") or [])
                 if b["key"] == fld["id"]), None)
            f_hi = next(
                (b["value"] for b in (d.get("upper_bounds") or [])
                 if b["key"] == fld["id"]), None)
            exclude = False
            if f_lo is not None and f_hi is not None:
                vlo = _bound_value(f_lo, fld["type"])
                vhi = _bound_value(f_hi, fld["type"])
                if lo is not None and vhi is not None and vhi < lo:
                    exclude = True
                if hi is not None and vlo is not None and vlo > hi:
                    exclude = True
            (skipped if exclude else cands).append(d["file_path"])
        return sorted(cands), sorted(skipped)

    def partition_pruned_files(
        self, filters: dict
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for equality ``filters`` against each
        manifest entry's typed partition struct — metadata only, the
        partition pruning external Iceberg readers perform."""
        cands, skipped = [], []
        for e in self._entries_of_current():
            d = e["data_file"]
            pv = d.get("partition") or {}
            ok = all(
                c in pv and pv[c] == v for c, v in filters.items()
            )
            (cands if ok else skipped).append(d["file_path"])
        return sorted(cands), sorted(skipped)

    def read_partitions(self, filters: dict) -> DataFrame:
        cands, _ = self.partition_pruned_files(filters)
        if not cands:
            return self.snapshot().limit(0)
        meta = self.metadata()
        df = self.spark.read.schema(
            self._spark_schema(meta)
        ).parquet(*cands)
        return self._apply_deletes(
            df, self._snapshot_by(meta, None), meta
        )

    def commit_external_snapshot(
        self,
        data_files: list[dict],
        delete_files: list[dict] = (),
        operation: str = "replace",
        properties: dict[str, str] | None = None,
        format_version: int | None = None,
        snapshot_id: int | None = None,
        next_row_id: int | None = None,
    ) -> int:
        """Commit one snapshot whose data files live OUTSIDE this
        table's ownership (absolute ``file_path`` structs) — the
        metadata-twin primitive behind the UniForm-style sync in
        ``sources/uniform.py``: the entire current file set is
        replaced by ``data_files`` (plus optional position-delete
        files), and not one byte of data moves. Metadata-only,
        O(files). ``properties`` merge into table properties (sync
        bookkeeping such as the source table's version)."""
        v = self.current_version()
        meta = dict(self.metadata(v))
        if snapshot_id is None:
            snapshot_id = uuid.uuid4().int >> 65
        if next_row_id is not None:
            # lifted row lineage (UniForm from a row-tracking Delta
            # table): entries carry their source-assigned
            # first_row_id; the counter mirrors the source's
            # high-water mark
            meta["next-row-id"] = next_row_id
        seq = meta["last-sequence-number"] + 1
        now_ms = int(time.time() * 1000)
        schema_cur = meta["schemas"][meta["current-schema-id"]]
        mpath, mlen, rows = self._write_manifest(
            list(data_files), snapshot_id, seq, schema_cur
        )
        manifests = [{
            "manifest_path": mpath,
            "manifest_length": mlen,
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(data_files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }]
        if delete_files:
            manifests.append(self._write_delete_manifest(
                list(delete_files), snapshot_id, seq, meta
            ))
        mlist = self._write_manifest_list(manifests, snapshot_id)
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": mlist,
            "summary": {"operation": operation,
                        **self._take_summary()},
            "schema-id": meta["current-schema-id"],
        }
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["current-snapshot-id"] = snapshot_id
        self._sync_main_ref(meta)
        meta["snapshots"] = meta["snapshots"] + [snap]
        meta["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        if properties:
            meta["properties"] = {
                **meta.get("properties", {}),
                **{k: str(vv) for k, vv in properties.items()},
            }
        if format_version is not None:
            # e.g. 3 when the sync ships deletion-vector blobs
            meta["format-version"] = format_version
        try:
            self._commit_metadata(v + 1, meta)
        except FileExistsError:
            raise ConcurrentModificationError(
                f"concurrent commit at version {v + 1} under an "
                "external-snapshot sync; re-run against the new head"
            ) from None
        return snapshot_id

    def source_pruned_files(
        self, eq_filters: dict
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for equality predicates on SOURCE
        columns, projected through every partition transform sourced
        from them — hidden partitioning's contract: the query names
        ``ts = X`` and the bucket/day/truncate layout prunes anyway.
        Metadata-only; files written under older specs (spec
        evolution) lack the newer partition fields and stay
        candidates, exactly the spec's cross-spec behavior."""
        meta = self.metadata()
        # every spec's fields, so pruning works across spec evolution
        wanted: list[tuple[str, object]] = []
        seen: set[tuple[str, str]] = set()
        for spec in meta["partition-specs"]:
            for pf in self._partition_fields(meta, spec=spec):
                key = (pf["name"], pf["transform"])
                if pf["source_name"] in eq_filters and key not in seen:
                    seen.add(key)
                    wanted.append((
                        pf["name"],
                        _transform_literal(
                            pf["transform"],
                            eq_filters[pf["source_name"]],
                            pf["source_type"],
                        ),
                    ))
        cands, skipped = [], []
        for e in self._entries_of_current():
            d = e["data_file"]
            pv = d.get("partition") or {}
            exclude = any(
                name in pv and pv[name] is not None
                and pv[name] != expect
                for name, expect in wanted
            )
            (skipped if exclude else cands).append(d["file_path"])
        return sorted(cands), sorted(skipped)

    def source_pruned_files_range(
        self, column: str, lo=None, hi=None
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for a RANGE predicate on a SOURCE
        column, projected through every MONOTONIC partition transform
        sourced from it — identity, truncate[W] (floor/prefix
        truncation preserves order), year/month/day/hour (time is
        monotone in its calendar buckets). bucket[N] scrambles order
        and never prunes ranges (exactly the spec's guidance).
        Metadata-only; files from specs without a projectable field
        stay candidates."""
        meta = self.metadata()
        wanted: list[tuple[str, object, object]] = []
        seen: set[tuple[str, str]] = set()
        for spec in meta["partition-specs"]:
            for pf in self._partition_fields(meta, spec=spec):
                if pf["source_name"] != column:
                    continue
                base = pf["transform"].split("[", 1)[0]
                if base == "bucket":
                    continue  # hash order: not range-projectable
                key = (pf["name"], pf["transform"])
                if key in seen:
                    continue
                seen.add(key)
                plo = _transform_literal(
                    pf["transform"], lo, pf["source_type"]
                ) if lo is not None else None
                phi = _transform_literal(
                    pf["transform"], hi, pf["source_type"]
                ) if hi is not None else None
                wanted.append((pf["name"], plo, phi))
        cands, skipped = [], []
        for e in self._entries_of_current():
            d = e["data_file"]
            pv = d.get("partition") or {}
            exclude = False
            for name, plo, phi in wanted:
                v = pv.get(name)
                if v is None:
                    continue  # other spec / null partition: keep
                if (plo is not None and v < plo) or (
                    phi is not None and v > phi
                ):
                    exclude = True
                    break
            (skipped if exclude else cands).append(d["file_path"])
        return sorted(cands), sorted(skipped)

    def read_eq(self, **eq_filters) -> DataFrame:
        """Hidden-partition-pruned equality read:
        ``read_eq(ts=datetime(...), k=5)`` prunes via every transform
        sourced from the named columns, then applies the residual
        filter (pushed to parquet row groups by Spark)."""
        cands, _ = self.source_pruned_files(eq_filters)
        if not cands:
            return self.snapshot().limit(0)
        meta = self.metadata()
        df = self.spark.read.schema(
            self._spark_schema(meta)
        ).parquet(*cands)
        df = self._apply_deletes(
            df, self._snapshot_by(meta, None), meta
        )
        for c, v in eq_filters.items():
            df = df.where(F.col(c) == F.lit(v))
        return df

    def read_range(self, column: str, lo=None, hi=None) -> DataFrame:
        """Bounds-pruned scan + residual filter (pushed to parquet row
        groups by Spark) — the Iceberg twin of the Delta
        ``read_range``. Hidden-partition range pruning intersects in:
        monotonic transforms sourced from ``column`` (truncate,
        year/month/day/hour, identity) exclude files from the
        partition struct alone, which also covers files carrying no
        column bounds (e.g. a uniform view without projected stats)."""
        cands, _ = self.skipped_files(column, lo, hi)
        pcands, pskip = self.source_pruned_files_range(column, lo, hi)
        if pskip:
            cands = sorted(set(cands) & set(pcands))
        if not cands:
            return self.snapshot().limit(0)
        meta = self.metadata()
        df = self.spark.read.schema(
            self._spark_schema(meta)
        ).parquet(*cands)
        df = self._apply_deletes(
            df, self._snapshot_by(meta, None), meta
        )
        if lo is not None:
            df = df.where(F.col(column) >= lo)
        if hi is not None:
            df = df.where(F.col(column) <= hi)
        return df

    def history(self) -> list[dict]:
        meta = self.metadata()
        return [
            {
                "snapshot_id": s["snapshot-id"],
                "sequence_number": s["sequence-number"],
                "timestamp_ms": s["timestamp-ms"],
                "operation": s["summary"]["operation"],
            }
            for s in meta["snapshots"]
        ]

    def rewrite_manifests(self) -> int:
        """The spec's rewrite_manifests maintenance action: fold the
        manifest list (one manifest per append accumulates — replay
        cost grows O(commits)) into one consolidated manifest per
        partition spec, entries carried as EXISTING with their
        original snapshot/sequence metadata. No data file is touched;
        position-delete manifests carry forward."""
        return self._rewrite_files(set(), None, "replace")

    def rewrite_data_files(
        self,
        target_file_size_bytes: int = 128 << 20,
        min_input_files: int = 2,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        hilbert_by: list[str] | None = None,
    ) -> int:
        """The spec's rewrite_data_files maintenance action
        (reference analog: none — the reference rewrites whole
        datasets; this is the small-file compaction a 100 TB table
        needs so scan planning doesn't drown in file handles).

        Bin-pack mode (default): within each partition tuple, data
        files below ``target_file_size_bytes`` are coalesced into
        ~target-sized files when at least ``min_input_files`` qualify.
        Sorted mode (``sort_by``): EVERY data file rewrites through a
        range-partitioned global sort, leaving per-file column bounds
        disjoint on the sort key — ``skipped_files``/``read_range``
        then prune to O(matching files); the table's ``sort-orders``
        metadata records the new order (spec: Sort Orders) and
        ``default-sort-order-id`` points at it.
        Z-order mode (``zorder_by``): EVERY data file rewrites along
        the Z-curve over the given columns (shared core in
        ``operators/layout.py`` — the same transformation behind the
        Delta twin's OPTIMIZE ZORDER), leaving per-file bounds tight
        on ALL the columns so single-column skipping prunes on any of
        them; recorded as the ``write.zorder.columns`` table property
        (z-order is an engine layout policy, not a spec sort order).
        Hilbert mode (``hilbert_by``, exactly two columns): same
        any-column pruning along the Hilbert curve — tighter average
        bounding boxes than z-order (consecutive indexes are always
        grid neighbors); recorded as ``write.hilbert.columns``. This
        is the layout the Delta twin's clustered tables use, exposed
        here as a rewrite strategy (Iceberg has no clustered-table
        metadata concept).

        Delete debt folds in: rewritten rows pass ``_apply_deletes``
        so carried position-delete entries naming replaced files
        dangle harmlessly and carried equality deletes (strictly
        older sequence numbers than the new files) cannot re-kill the
        survivors. Untouched files keep their delete scope. One
        'replace' snapshot; older snapshots still see the small files
        until ``expire_snapshots``."""
        if sum(x is not None for x in (sort_by, zorder_by,
                                       hilbert_by)) > 1:
            raise ValueError(
                "pass ONE of sort_by / zorder_by / hilbert_by"
            )
        meta = self.metadata()
        snap = self._snapshot_by(meta, None)
        entries = self._entries_of_current()
        if not entries:
            return meta["current-snapshot-id"]
        if sort_by or zorder_by or hilbert_by:
            schema_fields = {
                f["name"]
                for f in meta["schemas"][meta["current-schema-id"]]
                ["fields"]
            }
            missing = [c for c in (sort_by or zorder_by or hilbert_by)
                       if c not in schema_fields]
            if missing:
                raise ValueError(
                    f"sort columns not in schema: {missing}"
                )
            affected = {
                e["data_file"]["file_path"] for e in entries
            }
        else:
            groups: dict[tuple, list[dict]] = {}
            for e in entries:
                key = tuple(sorted(
                    (k, str(v))
                    for k, v in
                    (e["data_file"].get("partition") or {}).items()
                ))
                groups.setdefault(key, []).append(e)
            affected = set()
            for es in groups.values():
                small = [
                    e for e in es
                    if (e["data_file"].get("file_size_in_bytes")
                        or 0) < target_file_size_bytes
                ]
                if len(small) >= min_input_files:
                    affected |= {
                        e["data_file"]["file_path"] for e in small
                    }
            if not affected:
                return meta["current-snapshot-id"]
        total_bytes = sum(
            e["data_file"].get("file_size_in_bytes") or 0
            for e in entries
            if e["data_file"]["file_path"] in affected
        )
        n_out = max(1, -(-total_bytes // target_file_size_bytes))
        if "next-row-id" in meta:
            # v3 Row Lineage survives compaction by MATERIALIZING the
            # effective _row_id/_last_updated_sequence_number into the
            # rewritten files (spec: rewrites must preserve lineage)
            rows = self._read_with_lineage(snap, meta,
                                           only=set(affected))
        else:
            rows = self.spark.read.schema(
                self._spark_schema(meta)
            ).parquet(*sorted(affected))
            rows = self._apply_deletes(rows, snap, meta)
        meta_mutate = None
        if sort_by:
            # range partition + in-partition sort: disjoint per-file
            # bounds on the sort key (what makes the rewrite pay off)
            rows = rows.repartitionByRange(
                n_out, *sort_by
            ).sortWithinPartitions(*sort_by)
            by_name = {
                f["name"]: f
                for f in meta["schemas"][meta["current-schema-id"]]
                ["fields"]
            }
            order_fields = [
                {"transform": "identity",
                 "source-id": by_name[c]["id"],
                 "direction": "asc", "null-order": "nulls-first"}
                for c in sort_by
            ]

            def meta_mutate(m: dict) -> None:
                orders = list(m.get("sort-orders") or [])
                for o in orders:
                    if o["fields"] == order_fields:
                        m["default-sort-order-id"] = o["order-id"]
                        return
                oid = max(
                    (o["order-id"] for o in orders), default=0
                ) + 1
                orders.append(
                    {"order-id": oid, "fields": order_fields}
                )
                m["sort-orders"] = orders
                m["default-sort-order-id"] = oid
        elif zorder_by:
            from ..operators.layout import zorder_frame

            rows = zorder_frame(rows, list(zorder_by), n_out)

            def meta_mutate(m: dict) -> None:
                m["properties"] = {
                    **m.get("properties", {}),
                    "write.zorder.columns": ",".join(zorder_by),
                }
        elif hilbert_by:
            from ..operators.layout import hilbert_frame

            rows = hilbert_frame(rows, list(hilbert_by), n_out)

            def meta_mutate(m: dict) -> None:
                m["properties"] = {
                    **m.get("properties", {}),
                    "write.hilbert.columns": ",".join(hilbert_by),
                }
        else:
            # coalesce (no shuffle): fewer write tasks → fewer files;
            # partitionBy still splits per partition directory
            rows = rows.coalesce(n_out)
        return self._rewrite_files(
            affected, rows, "replace", carry_deletes=True,
            meta_mutate=meta_mutate,
        )

    def remove_orphan_files(
        self, older_than_s: float = 3600.0
    ) -> list[str]:
        """The spec's remove_orphan_files maintenance action: delete
        data/delete files under ``data/`` that NO metadata version's
        snapshot references (a crashed writer's moved-but-uncommitted
        files, or files whose commit lost the metadata swap), plus
        staging dirs past the age gate. ``older_than_s`` protects a
        concurrent writer mid-commit — its files are newer than the
        cutoff. Referenced files of EVERY snapshot (including
        historical ones) are never touched, so time travel is
        unaffected. Driver-side metadata walk + unlinks; the log is
        KBs at any data scale."""
        import shutil as _shutil

        referenced: set[str] = set()
        for v in range(self.current_version() + 1):
            mp = self._metadata_path(v)
            if not os.path.isfile(mp):
                continue
            meta = json.load(open(mp))
            for s in meta.get("snapshots", []):
                ml = s.get("manifest-list")
                if not ml or not os.path.isfile(ml):
                    continue
                _, manifests = decode_ocf(open(ml, "rb").read())
                for m in manifests:
                    mpth = m["manifest_path"]
                    if not os.path.isfile(mpth):
                        continue
                    _, es = decode_ocf(open(mpth, "rb").read())
                    referenced.update(
                        os.path.normpath(e["data_file"]["file_path"])
                        for e in es
                    )
        removed: list[str] = []
        now = time.time()
        data_dir = os.path.join(self.path, "data")
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                fp = os.path.join(root, fn)
                if os.path.normpath(fp) in referenced:
                    continue
                if now - os.path.getmtime(fp) <= older_than_s:
                    continue  # possibly a concurrent writer's file
                os.remove(fp)
                removed.append(os.path.relpath(fp, self.path))
        st = os.path.join(self.path, ".staging")
        if os.path.isdir(st):
            for d in os.listdir(st):
                p = os.path.join(st, d)
                if (os.path.isdir(p)
                        and now - os.path.getmtime(p) > older_than_s):
                    _shutil.rmtree(p, ignore_errors=True)
                    removed.append(f".staging/{d}")
        return sorted(removed)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Snapshot expiration (the spec's expire_snapshots maintenance
        action): drop all but the newest ``keep_last`` snapshots from
        table metadata and delete every file — data, manifest,
        manifest-list — reachable ONLY from expired snapshots. Pure
        metadata walk plus driver-side unlinks (the log is KBs at any
        data scale); data files shared with surviving snapshots (the
        normal case — appends carry files forward) are never touched.
        Returns the deleted paths. Time travel to expired snapshots
        stops working, exactly as in the reference implementation."""
        meta = self.metadata()
        # the retention set is the newest keep_last ANCESTORS of the
        # current snapshot — on a linear history that's simply the
        # newest snapshots, and after rollback_to_snapshot it means
        # the abandoned descendant branch expires (exactly what the
        # spec's maintenance action removes as unreferenced)
        chain_ids = set(self._ancestors_of_current(meta))
        snaps = sorted(
            meta["snapshots"], key=lambda s: s["sequence-number"]
        )
        chain = [s for s in snaps if s["snapshot-id"] in chain_ids]
        kept = chain[-keep_last:] if keep_last > 0 else []
        if not kept or meta["current-snapshot-id"] != kept[-1][
            "snapshot-id"
        ]:
            raise ValueError(
                "expire_snapshots would drop the current snapshot"
            )
        kept_set = {s["snapshot-id"] for s in kept}
        # refs pin snapshots: a tag pins its head; a branch pins its
        # head plus min-snapshots-to-keep (default 1) newest ancestors
        # — ref-reachable history never expires out from under a
        # reader holding the ref name
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        for name, ref in meta.get("refs", {}).items():
            if name == "main":
                continue  # main follows current, handled above
            n = (
                1 if ref.get("type") == "tag"
                else max(1, ref.get("min-snapshots-to-keep", 1))
            )
            cur = ref["snapshot-id"]
            while n > 0 and cur is not None and cur in by_id:
                kept_set.add(cur)
                cur = by_id[cur].get("parent-snapshot-id")
                n -= 1
        kept = [s for s in snaps if s["snapshot-id"] in kept_set]
        expired = [
            s for s in snaps if s["snapshot-id"] not in kept_set
        ]
        if not expired:
            return []
        keep_mlists, keep_manifests, keep_files = set(), set(), set()
        for s in kept:
            keep_mlists.add(s["manifest-list"])
            _, manifests = decode_ocf(
                open(s["manifest-list"], "rb").read()
            )
            for m in manifests:
                keep_manifests.add(m["manifest_path"])
                _, es = decode_ocf(
                    open(m["manifest_path"], "rb").read()
                )
                keep_files.update(
                    e["data_file"]["file_path"] for e in es
                )
        removed: list[str] = []

        def _unlink(p: str) -> None:
            if os.path.exists(p):
                os.remove(p)
                removed.append(p)

        for s in expired:
            mlist = s["manifest-list"]
            if mlist in keep_mlists or not os.path.exists(mlist):
                continue
            _, manifests = decode_ocf(open(mlist, "rb").read())
            for m in manifests:
                mp = m["manifest_path"]
                if mp in keep_manifests or not os.path.exists(mp):
                    continue
                _, es = decode_ocf(open(mp, "rb").read())
                for e in es:
                    p = e["data_file"]["file_path"]
                    if p not in keep_files:
                        _unlink(p)
                _unlink(mp)
            _unlink(mlist)
        kept_ids = {s["snapshot-id"] for s in kept}
        new_meta = dict(meta)
        new_meta["snapshots"] = [
            s for s in meta["snapshots"]
            if s["snapshot-id"] in kept_ids
        ]
        new_meta["snapshot-log"] = [
            e for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] in kept_ids
        ]
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata(self.current_version() + 1, new_meta)
        return sorted(removed)

    # ---------------------------------------------- rollback/restore
    @staticmethod
    def _ancestors_of_current(meta: dict) -> list[int]:
        """Snapshot ids on the parent chain of the current snapshot,
        current first."""
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        out: list[int] = []
        cur = meta.get("current-snapshot-id")
        while cur is not None and cur != -1 and cur in by_id:
            out.append(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        return out

    def _make_current(self, snapshot_id: int) -> int:
        """Commit the next metadata version with ``snapshot_id`` as
        current — a pure metadata swap, no data or manifest files
        touched. Returns the new metadata version."""
        v = self.current_version()
        meta = dict(self.metadata(v))
        now_ms = int(time.time() * 1000)
        meta["current-snapshot-id"] = snapshot_id
        if "main" in meta.get("refs", {}):
            meta["refs"] = {
                **meta["refs"],
                "main": {**meta["refs"]["main"],
                         "snapshot-id": snapshot_id},
            }
        meta["last-updated-ms"] = now_ms
        meta["snapshot-log"] = meta.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        meta["metadata-log"] = meta.get("metadata-log", []) + [
            {"metadata-file": self._metadata_path(v),
             "timestamp-ms": now_ms}
        ]
        self._commit_metadata(v + 1, meta)
        return v + 1

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """The spec's rollback_to_snapshot maintenance action: make an
        ANCESTOR of the current snapshot current again. Metadata-only
        — O(1) regardless of table size; the abandoned descendants
        stay in metadata (time travel by id still reaches them) until
        ``expire_snapshots`` removes them as unreferenced. Refuses a
        non-ancestor target — that's ``set_current_snapshot``'s
        explicit, more dangerous contract. Returns the new metadata
        version.

        The reference's versioned store can only move forward
        (register_hudi.py upsert-only); rollback is the undo a
        100 TB table needs after a bad batch: one metadata swap
        instead of rewriting everything the batch touched."""
        meta = self.metadata()
        if snapshot_id not in self._ancestors_of_current(meta):
            known = {s["snapshot-id"] for s in meta["snapshots"]}
            if snapshot_id in known:
                raise ValueError(
                    f"snapshot {snapshot_id} is not an ancestor of "
                    "the current snapshot; use set_current_snapshot "
                    "to jump branches explicitly"
                )
            raise ValueError(
                f"unknown snapshot id {snapshot_id} at {self.path}"
            )
        return self._make_current(snapshot_id)

    def set_current_snapshot(self, snapshot_id: int) -> int:
        """Set ANY listed snapshot current (the catalog's
        set_current_snapshot): jumps across abandoned branches, e.g.
        back to a rolled-away head. Metadata-only."""
        meta = self.metadata()
        if snapshot_id not in {
            s["snapshot-id"] for s in meta["snapshots"]
        }:
            raise ValueError(
                f"unknown snapshot id {snapshot_id} at {self.path}"
            )
        return self._make_current(snapshot_id)

    # ------------------------------------------------- refs (v2 spec)
    @staticmethod
    def _sync_main_ref(meta: dict) -> None:
        """Keep a materialized refs['main'] pointing at current —
        the spec requires the two to agree."""
        if "main" in meta.get("refs", {}):
            meta["refs"] = {
                **meta["refs"],
                "main": {
                    **meta["refs"]["main"],
                    "snapshot-id": meta["current-snapshot-id"],
                },
            }

    def refs(self) -> dict[str, dict]:
        """The metadata ``refs`` map: name -> SnapshotRef
        ({snapshot-id, type: tag|branch, retention fields})."""
        return dict(self.metadata().get("refs", {}))

    # ---------------------------------------- statistics (puffin)
    def compute_table_stats(
        self, columns: list[str] | None = None, k: int = 4096
    ) -> str:
        """The spec's table-statistics surface: write a Puffin file of
        per-column NDV sketches (blob type
        apache-datasketches-theta-v1, ``ndv`` property on each blob)
        for the CURRENT snapshot and register it in the metadata
        ``statistics`` list — what a cost-based optimizer (e.g. Trino)
        reads for distinct-count estimates without touching data files.

        Scale shape per column: one distinct aggregation (map-side
        partial), Arrow-batched hashing of the distinct values, then
        TakeOrdered of the k+1 smallest hashes — the ONLY rows that
        reach the driver, bounded by k regardless of table size. NDV
        is exact while distinct <= k; beyond that it's the KMV
        estimate the retained-hash set implies (same rule the sketch
        payload encodes)."""
        from .puffin import (
            THETA_BLOB_TYPE,
            theta_sketch_bytes,
            theta_sketch_estimate,
            write_puffin,
        )

        meta = self.metadata()
        snap = self._snapshot_by(meta, None)
        snapshot_id = snap["snapshot-id"]
        seq = snap.get("sequence-number", 0)
        fields = meta["schemas"][meta["current-schema-id"]]["fields"]
        by_name = {f["name"]: f for f in fields}
        if columns is None:
            columns = [
                f["name"] for f in fields
                if isinstance(f["type"], str)
                and f["type"] in ("int", "long", "string")
            ]
        df = self.snapshot()
        blobs = []
        for c in columns:
            f = by_name.get(c)
            if f is None:
                raise ValueError(f"no column {c!r} in current schema")
            if not (isinstance(f["type"], str)
                    and f["type"] in ("int", "long", "string")):
                raise ValueError(
                    f"NDV stats support int/long/string; {c!r} is "
                    f"{f['type']!r}"
                )
            hashed = (
                df.select(c)
                .where(F.col(c).isNotNull())
                .distinct()
                .mapInPandas(_theta_hash_rows(c), "h long")
            )
            smallest = [
                r["h"] for r in hashed.orderBy("h").limit(k + 1)
                .collect()
            ]
            sketch = theta_sketch_bytes(smallest, k=k)
            ndv = int(round(theta_sketch_estimate(sketch)))
            blobs.append({
                "type": THETA_BLOB_TYPE,
                "fields": [f["id"]],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "payload": sketch,
                "properties": {"ndv": str(ndv)},
            })
        path = os.path.join(
            self.meta_dir, f"{snapshot_id}-stats.puffin"
        )
        if os.path.exists(path):
            os.unlink(path)  # recompute replaces the snapshot's stats
        info = write_puffin(path, blobs)
        meta2 = dict(meta)
        meta2["statistics"] = [
            s for s in meta.get("statistics", [])
            if s["snapshot-id"] != snapshot_id
        ] + [{
            "snapshot-id": snapshot_id,
            "statistics-path": path,
            **info,
        }]
        self._commit_metadata(self.current_version() + 1, meta2)
        return path

    def table_stats(
        self, snapshot_id: int | None = None
    ) -> dict[str, int]:
        """Read per-column NDV back from the snapshot's registered
        Puffin statistics file. The blob's ``ndv`` property (the value
        engines consume) is cross-checked against the sketch payload's
        own estimate — a mismatch means a corrupt or foreign file and
        raises instead of feeding the optimizer garbage."""
        from .puffin import (
            THETA_BLOB_TYPE,
            read_puffin,
            theta_sketch_estimate,
        )

        meta = self.metadata()
        sid = (meta["current-snapshot-id"] if snapshot_id is None
               else snapshot_id)
        entries = [s for s in meta.get("statistics", [])
                   if s["snapshot-id"] == sid]
        if not entries:
            raise ValueError(
                f"no statistics registered for snapshot {sid}; run "
                "compute_table_stats() first"
            )
        by_id = {
            f["id"]: f["name"]
            for f in meta["schemas"][meta["current-schema-id"]]
            ["fields"]
        }
        _props, blobs = read_puffin(entries[-1]["statistics-path"])
        out: dict[str, int] = {}
        for bm, payload in blobs:
            if bm["type"] != THETA_BLOB_TYPE:
                continue
            name = by_id.get(bm["fields"][0], str(bm["fields"][0]))
            ndv = int(bm.get("properties", {}).get("ndv", "-1"))
            est = theta_sketch_estimate(payload)
            if abs(est - ndv) > max(1.0, 0.01 * ndv):
                raise ValueError(
                    f"puffin ndv property {ndv} disagrees with the "
                    f"sketch payload estimate {est:.1f} for {name!r}"
                )
            out[name] = ndv
        return out

    # ------------------------------------------- metadata tables
    def metadata_table(self, name: str) -> DataFrame:
        """Iceberg's queryable metadata tables (`SELECT * FROM
        tbl.files` etc.): ``snapshots``, ``history``, ``files``
        (current snapshot's live data + delete files), ``manifests``,
        ``partitions`` (per-partition file/row rollup), ``refs``.
        Built from the same metadata replay every plan already pays —
        no data file is opened; row counts are O(files), the scale of
        the planning metadata itself."""
        meta = self.metadata()
        spark = self.spark
        if name == "snapshots":
            return spark.createDataFrame(
                [(
                    s["timestamp-ms"], s["snapshot-id"],
                    s.get("parent-snapshot-id"),
                    s["summary"]["operation"],
                    {k: str(v) for k, v in s["summary"].items()
                     if k != "operation"},
                ) for s in meta.get("snapshots", [])],
                "committed_at_ms long, snapshot_id long, "
                "parent_id long, operation string, "
                "summary map<string,string>",
            )
        if name == "history":
            by_id = {
                s["snapshot-id"]: s for s in meta.get("snapshots", [])
            }
            ancestors = set()
            cur = meta.get("current-snapshot-id")
            while cur in by_id:
                ancestors.add(cur)
                cur = by_id[cur].get("parent-snapshot-id")
            return spark.createDataFrame(
                [(
                    e["timestamp-ms"], e["snapshot-id"],
                    by_id.get(e["snapshot-id"], {})
                    .get("parent-snapshot-id"),
                    e["snapshot-id"] in ancestors,
                ) for e in meta.get("snapshot-log", [])],
                "made_current_at_ms long, snapshot_id long, "
                "parent_id long, is_current_ancestor boolean",
            )
        if name == "refs":
            return spark.createDataFrame(
                [(
                    rn, r.get("type"), r.get("snapshot-id"),
                    r.get("max-ref-age-ms"),
                    r.get("min-snapshots-to-keep"),
                ) for rn, r in sorted(
                    meta.get("refs", {}).items()
                )],
                "name string, type string, snapshot_id long, "
                "max_ref_age_ms long, min_snapshots_to_keep int",
            )
        if name == "manifests":
            return spark.createDataFrame(
                [(
                    m["manifest_path"], m.get("manifest_length"),
                    m.get("partition_spec_id", 0),
                    m.get("content", 0),
                    m.get("added_snapshot_id"),
                    m.get("added_files_count"),
                    m.get("existing_files_count"),
                    m.get("deleted_files_count"),
                ) for m in self._manifest_list_rows(meta)],
                "path string, length long, partition_spec_id int, "
                "content int, added_snapshot_id long, "
                "added_files_count int, existing_files_count int, "
                "deleted_files_count int",
            )
        if name in ("files", "partitions"):
            snap = self._snapshot_by(meta, None)
            rows = []
            for content in (0, 1):
                for e in self._entries_of_snapshot(
                    snap, content=content
                ):
                    d = e["data_file"]
                    rows.append((
                        d.get("content", content),
                        d["file_path"],
                        d.get("record_count"),
                        d.get("file_size_in_bytes"),
                        {k: ("null" if v is None else str(v))
                         for k, v in
                         (d.get("partition") or {}).items()},
                        e.get("sequence_number"),
                    ))
            files = spark.createDataFrame(
                rows,
                "content int, file_path string, record_count long, "
                "file_size_in_bytes long, "
                "partition map<string,string>, sequence_number long",
            )
            if name == "files":
                return files
            return (
                files.filter(F.col("content") == 0)
                .groupBy("partition")
                .agg(
                    F.count(F.lit(1)).cast("int")
                    .alias("file_count"),
                    F.sum("record_count").alias("record_count"),
                    F.sum("file_size_in_bytes")
                    .alias("total_size_bytes"),
                )
            )
        raise ValueError(
            f"unknown metadata table {name!r}: expected snapshots, "
            "history, files, manifests, partitions, or refs"
        )

    def _commit_ref_change(self, mutate) -> None:
        """Optimistic metadata-only commit: ``mutate(refs)`` edits the
        refs dict in place against a fresh head; retried on a lost
        swap (ref changes compose with any concurrent commit)."""
        for _ in range(10):
            v = self.current_version()
            meta = dict(self.metadata(v))
            refs = dict(meta.get("refs", {}))
            mutate(meta, refs)
            meta["refs"] = refs
            meta["last-updated-ms"] = int(time.time() * 1000)
            try:
                self._commit_metadata(v + 1, meta)
                return
            except FileExistsError:
                continue
        raise ConcurrentModificationError(
            f"lost the metadata swap 10 times at {self.path}"
        )

    def _resolve_sid(self, meta: dict, snapshot_id: int | None) -> int:
        sid = (
            meta["current-snapshot-id"] if snapshot_id is None
            else snapshot_id
        )
        if sid not in {s["snapshot-id"] for s in meta["snapshots"]}:
            raise ValueError(
                f"unknown snapshot id {snapshot_id} at {self.path}"
            )
        return sid

    def create_branch(
        self, name: str, snapshot_id: int | None = None,
        min_snapshots_to_keep: int | None = None,
    ) -> None:
        """Create a named branch at ``snapshot_id`` (default: current)
        — the spec's SnapshotRef of type "branch". Writes to the
        branch (``append(df, branch=name)``) advance only the ref;
        ``fast_forward("main", name)`` publishes. This is the
        write-audit-publish pattern: stage a batch on an audit branch,
        validate it in place, publish with one O(1) metadata swap —
        at 100 TB the alternative (copy-validate-copy) rewrites the
        batch twice."""
        def mutate(meta, refs):
            if name in refs or name == "main":
                raise ValueError(f"ref {name!r} already exists")
            ref = {
                "snapshot-id": self._resolve_sid(meta, snapshot_id),
                "type": "branch",
            }
            if min_snapshots_to_keep is not None:
                ref["min-snapshots-to-keep"] = min_snapshots_to_keep
            refs[name] = ref
            # materialize main so external readers see the full map
            refs.setdefault("main", {
                "snapshot-id": meta["current-snapshot-id"],
                "type": "branch",
            })
        self._commit_ref_change(mutate)

    def create_tag(
        self, name: str, snapshot_id: int | None = None,
    ) -> None:
        """Create an immutable named tag (spec SnapshotRef type
        "tag") — e.g. pin the exact snapshot a model was trained on.
        Tagged snapshots survive ``expire_snapshots`` until the tag
        is dropped."""
        def mutate(meta, refs):
            if name in refs or name == "main":
                raise ValueError(f"ref {name!r} already exists")
            refs[name] = {
                "snapshot-id": self._resolve_sid(meta, snapshot_id),
                "type": "tag",
            }
            refs.setdefault("main", {
                "snapshot-id": meta["current-snapshot-id"],
                "type": "branch",
            })
        self._commit_ref_change(mutate)

    def drop_ref(self, name: str) -> None:
        """Remove a tag or branch; its exclusive snapshots become
        expire candidates. "main" cannot be dropped."""
        def mutate(meta, refs):
            if name == "main":
                raise ValueError("cannot drop the main branch")
            if name not in refs:
                raise ValueError(f"no ref named {name!r}")
            del refs[name]
        self._commit_ref_change(mutate)

    def fast_forward(self, target: str, source: str) -> int:
        """Fast-forward ``target`` (a branch, or "main") to the head
        of ``source``, REQUIRING target's head to be an ancestor of
        source's head — the publish step of write-audit-publish. A
        diverged target refuses (nothing is merged or rewritten).
        Metadata-only, O(1). Returns the published snapshot id."""
        meta = self.metadata()
        refs = meta.get("refs", {})
        src = refs.get(source)
        if src is None:
            raise ValueError(f"no ref named {source!r}")
        src_head = src["snapshot-id"]
        tgt_head = (
            meta["current-snapshot-id"] if target == "main"
            else refs.get(target, {}).get("snapshot-id")
        )
        if tgt_head is None:
            raise ValueError(f"no ref named {target!r}")
        if tgt_head == src_head:
            return src_head
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        cur = src_head
        chain = []
        while cur is not None and cur in by_id:
            chain.append(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        if tgt_head not in chain and tgt_head != -1:
            raise ValueError(
                f"{target!r} (head {tgt_head}) is not an ancestor of "
                f"{source!r} (head {src_head}); fast-forward refuses "
                "a diverged target"
            )
        if target == "main":
            self._make_current(src_head)
        else:
            def mutate(m, r):
                r[target] = {**r[target], "snapshot-id": src_head}
            self._commit_ref_change(mutate)
        return src_head


def _theta_hash_rows(colname: str):
    """mapInPandas worker for compute_table_stats: theta-hash one
    column's (already distinct) values, Arrow batch in/out."""
    def run(batches):
        import pandas as pd

        from fda_clinical_etl_pipeline_spark.sources.puffin import (
            theta_hash,
        )

        for pdf in batches:
            hs = [
                theta_hash(v.item() if hasattr(v, "item") else v)
                for v in pdf[colname]
            ]
            yield pd.DataFrame({"h": pd.Series(hs, dtype="int64")})
    return run
