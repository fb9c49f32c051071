"""Delta-protocol table format — write-side transaction log + log-replay
reader, no delta jar required.

The reference's one Spark feature is a Hudi COW table with time travel
(`/root/reference/hudi/register_hudi.py:56-77`, README.md:190-198).
This module provides the same semantics in the OPEN Delta Lake table
format: data as plain parquet files plus a `_delta_log/` of ordered
JSON commit files, exactly as specified by the public Delta protocol
(delta-io/delta PROTOCOL.md). A table written here is readable by any
external Delta reader (Spark+delta-spark, delta-rs, DuckDB's delta
extension, Trino); this environment ships none of them, so tests verify
(a) structural conformance of the log against the spec and (b)
semantic correctness through the built-in log-replay reader.

Protocol subset implemented (documented, spec-cited):
- commit files `_delta_log/%020d.json`, newline-delimited JSON actions;
- `protocol` action: minReaderVersion=1, minWriterVersion=2 (no
  advanced table features used, so the lowest versions apply);
- `metaData` action: id/format(parquet)/schemaString (Spark StructType
  JSON — the exact format Delta uses)/partitionColumns/configuration;
- `add` actions: relative path, partitionValues, size,
  modificationTime, dataChange, and the per-file `stats` JSON string
  (numRecords/minValues/maxValues/nullCount over the first 32
  skippable columns — Delta's dataSkippingNumIndexedCols default) that
  external readers use for data skipping; this writer uses the same
  stats for log-only file pruning in upsert/delete/read_range;
- `remove` actions: deletionTimestamp + dataChange;
- `commitInfo` (informational: operation name + timestamp);
- parquet checkpoints + `_last_checkpoint` (see ``checkpoint``):
  replay reads the newest checkpoint at-or-before the target version
  plus the JSON commits after it.
Not implemented (and not required by the protocol for correctness at
this log size): partitioned tables, deletion vectors, column mapping,
checkpoint-triggered log cleanup (old JSON commits are retained, so
pre-checkpoint time travel keeps working).

Commit atomicity: POSIX exclusive-create (`open(..., "x")`) of the
next version's file — the filesystem put-if-absent primitive the Delta
spec requires of a LogStore; a lost race surfaces as
``FileExistsError`` (retryable). On object stores you would swap in a
conditional-put LogStore; the log format itself is unchanged.

At 100 TB the log stays tiny (actions, not data); data movement is
ordinary distributed parquet writes. The upsert here is copy-on-write
over the matched subset only: files whose key range cannot contain a
matched key are kept as-is (add actions carry no rewrite), mirroring
Hudi's file-group pruning — see ``upsert``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_delta_log"


class ConcurrentModificationError(RuntimeError):
    """A concurrent writer committed between this operation's read and
    its commit attempt, and the operation is not a blind append (or
    lost the race too many times). Re-run against the new head."""


class DeltaProtocolTable:
    """A non-partitioned Delta-format table at a local/posix ``path``.

    ``key``/``precombine`` set the table's default merge identity so
    ``upsert(df)`` works argument-free — which makes the table a valid
    sink for ``streaming.pipeline.stream_upsert`` (streaming CDC into
    the open table format, time travel across micro-batches)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str | None = None,
        precombine: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.key = key
        self.precombine = precombine
        # committed versions are immutable: per-version memo of the
        # row-tracking high-water mark (a tracked-table write consults
        # it several times per operation)
        self._hwm_cache: dict[int, int | None] = {}

    # ---------------------------------------------------------- log IO
    def _commit_file(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def latest_version(self) -> int:
        """Highest committed version, or -1 for a nonexistent table."""
        if not os.path.isdir(self.log_dir):
            return -1
        versions = [
            int(fn[:20])
            for fn in os.listdir(self.log_dir)
            if fn.endswith(".json") and fn[:20].isdigit()
        ]
        return max(versions, default=-1)

    def _write_commit(self, version: int, actions: list[dict]) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        payload = "\n".join(json.dumps(a, separators=(",", ":"))
                            for a in actions) + "\n"
        # exclusive create = the put-if-absent commit primitive; a
        # concurrent writer of the same version loses with
        # FileExistsError instead of corrupting the log
        with open(self._commit_file(version), "x") as f:
            f.write(payload)

    # writer features this writer actually implements — the spec's
    # write-side gate: committing to a table whose protocol lists a
    # feature we don't understand can silently break its invariants
    # (e.g. an identity-column table would get wrong sequence values)
    _SUPPORTED_WRITER_FEATURES = {
        "appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "deletionVectors",
        "columnMapping", "typeWidening", "domainMetadata",
        "clustering", "rowTracking", "variantType",
        "identityColumns",
    }
    _MAX_WRITER_VERSION = 7

    # writer features IMPLIED by each legacy minWriterVersion (spec's
    # version→feature table): a legacy table carries no explicit
    # writerFeatures list, so the version number IS the feature set.
    # v6 implies identityColumns, which this writer does not
    # implement — _check_write_protocol therefore refuses mwv 6.
    _LEGACY_WRITER_FEATURES = {
        1: set(),
        2: {"appendOnly", "invariants"},
        3: {"appendOnly", "invariants", "checkConstraints"},
        4: {"appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns"},
        5: {"appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns", "columnMapping"},
        6: {"appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns", "columnMapping",
            "identityColumns"},
    }

    def _check_write_protocol(self) -> None:
        v = self.latest_version()
        if v < 0:
            return
        protocol = None
        for a in self._actions_upto(v):
            if "protocol" in a:
                protocol = a["protocol"]
        if protocol is None:
            return
        mwv = int(protocol.get("minWriterVersion", 2))
        if mwv > self._MAX_WRITER_VERSION:
            raise ValueError(
                f"table requires minWriterVersion {mwv} (this writer "
                f"implements {self._MAX_WRITER_VERSION}); refusing "
                "to commit rather than break its invariants"
            )
        # explicit list at v7, implied-by-version set below — both go
        # through the same unknown-feature gate (a legacy v6 table
        # implies identityColumns, which we'd silently corrupt)
        if mwv == 7:
            required = set(protocol.get("writerFeatures") or [])
        elif mwv in self._LEGACY_WRITER_FEATURES:
            required = self._LEGACY_WRITER_FEATURES[mwv]
        else:
            # mwv outside 1..6 and not 7: a corrupt/malformed protocol
            # action (0, negative). Refuse rather than treat it as
            # "no features required" and commit into a broken table.
            raise ValueError(
                f"malformed protocol: minWriterVersion {mwv} is outside "
                "the legacy range 1-6 and not 7; refusing to commit"
            )
        unknown = required - self._SUPPORTED_WRITER_FEATURES
        if unknown:
            raise ValueError(
                f"table requires writer features {sorted(unknown)} "
                "this writer does not implement; refusing to "
                "commit rather than break its invariants"
            )

    def _commit_with_retry(
        self,
        version: int,
        actions: list[dict],
        read_version: int | None = None,
        max_retries: int = 10,
    ) -> int:
        """Optimistic-concurrency commit: try put-if-absent at
        ``version``; when a concurrent writer wins the slot, replay the
        commits that landed in between and decide per Delta's conflict
        rules:

        - BLIND APPENDS (our actions are adds only, no removes, no
          metaData) rebase automatically onto the new head — disjoint
          by construction (fresh uuid file names) — and retry.
        - READ-MODIFY-WRITE commits (we carry removes / metaData, or a
          concurrent commit removed or re-added state we read at
          ``read_version``) raise ConcurrentModificationError: the
          caller must re-run its transformation against the new head.

        Every commit first passes the write-side protocol gate, and —
        when the table tracks rows — gets fresh ``baseRowId`` /
        ``defaultRowCommitVersion`` stamped onto its new add actions
        (re-stamped per attempt: a rebase changes both the high-water
        mark and the commit version).
        """
        self._check_write_protocol()
        blind = all("add" in a or "commitInfo" in a for a in actions)
        for _ in range(max_retries):
            try:
                self._write_commit(
                    version,
                    self._fold_identity_hwm(
                        self._stamp_row_ids(actions, version),
                        version,
                    ),
                )
                return version
            except FileExistsError:
                head = self.latest_version()
                if not blind:
                    concurrent = []
                    for v in range(version, head + 1):
                        with open(self._commit_file(v)) as f:
                            concurrent += [
                                json.loads(line)
                                for line in f if line.strip()
                            ]
                    touched = {
                        a[k]["path"]
                        for a in concurrent
                        for k in ("add", "remove")
                        if k in a
                    }
                    ours = {
                        a["remove"]["path"]
                        for a in actions if "remove" in a
                    }
                    raise ConcurrentModificationError(
                        f"concurrent commit(s) {version}..{head} "
                        f"landed under a read-modify-write at read "
                        f"version {read_version} "
                        f"(overlap: {sorted(touched & ours)[:5]}); "
                        "re-run the operation against the new head"
                    )
                version = head + 1
        raise ConcurrentModificationError(
            f"lost the commit race {max_retries} times at {self.path}"
        )

    # ------------------------------------------- row tracking (spec
    # "Row Tracking"): fresh row ids are baseRowId + position within
    # the file; a rewrite preserves them through the MATERIALIZED
    # columns named in the table configuration; the table-wide
    # counter is the rowIdHighWaterMark in the delta.rowTracking
    # domain metadata.
    _RT_DOMAIN = "delta.rowTracking"
    ROW_ID_COL = "_row_id"
    ROW_CV_COL = "_row_commit_version"

    def _row_id_hwm(self, version: int) -> int | None:
        """rowIdHighWaterMark at ``version`` (last domain-metadata
        wins), or None when the table does not track rows. Memoized
        per committed version — the log at a version never changes."""
        if version < 0:
            return None
        if version in self._hwm_cache:
            return self._hwm_cache[version]
        hwm = None
        for a in self._actions_upto(version):
            dm = a.get("domainMetadata")
            if dm and dm.get("domain") == self._RT_DOMAIN:
                hwm = (
                    None if dm.get("removed")
                    else json.loads(dm["configuration"])
                    ["rowIdHighWaterMark"]
                )
        self._hwm_cache[version] = hwm
        return hwm

    def enable_row_tracking(self, initial_hwm: int = -1) -> int:
        """Turn on row tracking: writer features rowTracking +
        domainMetadata, the delta.enableRowTracking / materialized-
        column-name table properties, and the high-water-mark domain
        metadata. Files written BEFORE enablement have no baseRowId
        and read as NULL row ids until rewritten — the spec's
        backfill-less upgrade posture. ``initial_hwm`` seeds the mark
        above ids already materialized in the data (cross-format
        conversion carries the source's counter so fresh ids never
        collide with carried ones)."""
        v = self.latest_version()
        if self._row_id_hwm(v) is not None:
            return v
        meta, _ = self._replay(v)
        config = dict(meta.get("configuration") or {})
        config["delta.enableRowTracking"] = "true"
        config["delta.rowTracking.materializedRowIdColumnName"] = (
            self.ROW_ID_COL
        )
        config[
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        ] = self.ROW_CV_COL
        new_meta = dict(meta)
        new_meta["configuration"] = config
        actions = [
            self._commit_info("UPGRADE"),
            *self._protocol_upgrade_for_writer_features(
                v, {"rowTracking", "domainMetadata"}
            ),
            {"metaData": new_meta},
            {"domainMetadata": {
                "domain": self._RT_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": int(initial_hwm)}
                ),
                "removed": False,
            }},
        ]
        return self._commit_with_retry(v + 1, actions, read_version=v)

    def _stamp_row_ids(
        self, actions: list[dict], version: int
    ) -> list[dict]:
        """Row-tracking commit stamp: every NEW add action (no
        baseRowId yet — DV re-adds and carried adds keep theirs) gets
        fresh ids from the high-water mark in action order plus this
        commit's defaultRowCommitVersion, and the advanced mark is
        appended as domain metadata. No-op for untracked tables.

        A commit carrying its OWN delta.rowTracking domain action is
        caller-managed (UniForm lift / seed paths): its baseRowIds
        pass verbatim, unstamped adds stay NULL deliberately, and the
        caller's high-water mark folds with the table's via max. A
        removed=true action (disable) passes through untouched."""
        hwm = self._row_id_hwm(version - 1)
        if hwm is None:
            return actions
        marks = [
            a["domainMetadata"] for a in actions
            if a.get("domainMetadata", {}).get("domain")
            == self._RT_DOMAIN
        ]
        unstamped = [
            a["add"] for a in actions
            if "add" in a and a["add"].get("baseRowId") is None
        ]
        if any(dm.get("removed") for dm in marks):
            # a deliberate disable action passes through untouched
            # (ADVICE r13); the spec allows at most one domainMetadata
            # action per domain per commit, so it must not share a
            # commit with a raised mark or adds that need minting
            if len(marks) > 1 or unstamped:
                raise ValueError(
                    "cannot disable row tracking in the same commit "
                    "as new unstamped adds or another row-tracking "
                    "domain action"
                )
            return actions
        if marks:
            # CALLER-MANAGED ids (ADVICE r13): a commit that carries
            # its own delta.rowTracking mark (the UniForm lift, a seed
            # path) owns its row ids — baseRowIds arrive verbatim, and
            # adds WITHOUT one stay NULL on purpose (files from before
            # the source's lineage enablement read NULL there too).
            # Fold the caller's mark with the table's running mark
            # (max) instead of discarding it; never mint over it.
            if len(marks) > 1:
                raise ValueError(
                    "at most one delta.rowTracking domainMetadata "
                    "action per commit"
                )
            caller = int(
                json.loads(marks[0]["configuration"])
                ["rowIdHighWaterMark"]
            )
            out = [
                a for a in actions
                if a.get("domainMetadata", {}).get("domain")
                != self._RT_DOMAIN
            ]
            out.append({"domainMetadata": {
                "domain": self._RT_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": max(hwm, caller)}
                ),
                "removed": False,
            }})
            return out
        if not unstamped:
            return actions
        out = []
        run = hwm
        for a in actions:
            if "add" in a and a["add"].get("baseRowId") is None:
                add = dict(a["add"])
                stats = self._file_stats(add) or {}
                if stats.get("numRecords") is None:
                    # The spec requires numRecords under rowTracking:
                    # defaulting to 0 would hand this file a baseRowId
                    # without advancing the mark, so the NEXT add gets
                    # an overlapping range — silent duplicate row ids
                    # (ADVICE r13). Refuse at the stamping boundary.
                    raise ValueError(
                        "row tracking requires stats.numRecords on "
                        f"every new add; missing for {add['path']!r}"
                    )
                add["baseRowId"] = run + 1
                add["defaultRowCommitVersion"] = version
                run += int(stats["numRecords"])
                out.append({"add": add})
            else:
                out.append(a)
        out.append({"domainMetadata": {
            "domain": self._RT_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": run}),
            "removed": False,
        }})
        return out

    def _checkpoint_parquet(self, version: int) -> str:
        return os.path.join(
            self.log_dir, f"{version:020d}.checkpoint.parquet"
        )

    def _latest_checkpoint_leq(self, version: int) -> int | None:
        """Newest checkpoint at or before ``version`` (from the log
        listing; `_last_checkpoint` is written for external readers but
        not trusted over the listing)."""
        if not os.path.isdir(self.log_dir):
            return None
        best = None
        for fn in os.listdir(self.log_dir):
            if fn.endswith(".checkpoint.parquet") and fn[:20].isdigit():
                v = int(fn[:20])
                if v <= version and (best is None or v > best):
                    best = v
        return best

    def _actions_upto(self, version: int) -> list[dict]:
        """Action stream reconstructing version: newest checkpoint at
        or before it (if any), then the JSON commits after it — the
        spec's replay rule, which keeps log reads O(since-checkpoint)
        instead of O(all commits)."""
        out: list[dict] = []
        start = 0
        cp = self._latest_checkpoint_leq(version)
        if cp is not None:
            out.extend(self._read_checkpoint(cp))
            start = cp + 1
        for v in range(start, version + 1):
            fp = self._commit_file(v)
            if not os.path.exists(fp):
                raise ValueError(f"missing commit file for version {v}")
            with open(fp) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        return out

    def _replay(self, version: int) -> tuple[dict, dict[str, dict]]:
        """Replay the log → (metaData, {relative_path: add_action})."""
        meta: dict = {}
        active: dict[str, dict] = {}
        for a in self._actions_upto(version):
            if "metaData" in a:
                meta = a["metaData"]
            elif "add" in a:
                active[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                active.pop(a["remove"]["path"], None)
        return meta, active

    # ------------------------------------------------- checkpoints
    def checkpoint(self) -> int:
        """Write the spec's parquet checkpoint of the CURRENT version:
        one row per action in the reconstructed state (protocol,
        metaData, every active add, the high-water txn per appId), as
        `_delta_log/%020d.checkpoint.parquet`, plus the
        `_last_checkpoint` pointer file `{"version": V, "size": N}`.
        Replay afterwards reads the checkpoint + commits after it —
        O(since-checkpoint), not O(all commits). Remove tombstones are
        not carried (retention is zero here, matching vacuum). The log
        is metadata (KBs at any data scale), so the checkpoint is
        written driver-side with pyarrow — no Spark job.

        Earlier JSON commits stay on disk, so time travel to
        pre-checkpoint versions keeps working (the spec's log-cleanup
        that would expire them is a retention policy, not implemented)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.latest_version()
        if v < 0:
            raise ValueError(f"no delta table at {self.path}")
        meta, active = self._replay(v)
        protocol = None
        txns: dict[str, dict] = {}
        domains: dict[str, dict] = {}
        for a in self._actions_upto(v):
            if "protocol" in a:
                protocol = a["protocol"]
            elif "txn" in a:
                t = a["txn"]
                prev = txns.get(t["appId"])
                if prev is None or t["version"] > prev["version"]:
                    txns[t["appId"]] = t
            elif "domainMetadata" in a:
                # latest action per domain wins; tombstones are carried
                # too (the spec keeps them until log cleanup — dropping
                # one here would resurrect the domain for readers that
                # replay checkpoint-then-commits)
                domains[a["domainMetadata"]["domain"]] = (
                    a["domainMetadata"]
                )

        rows: list[dict] = [{"protocol": protocol}, {"metaData": meta}]
        rows.extend({"txn": t} for t in sorted(
            txns.values(), key=lambda t: t["appId"]))
        rows.extend({"domainMetadata": domains[d]}
                    for d in sorted(domains))
        rows.extend({"add": active[rel]} for rel in sorted(active))

        str_map = pa.map_(pa.string(), pa.string())
        schema = pa.schema([
            ("txn", pa.struct([
                ("appId", pa.string()), ("version", pa.int64()),
                ("lastUpdated", pa.int64()),
            ])),
            ("add", pa.struct([
                ("path", pa.string()), ("partitionValues", str_map),
                ("size", pa.int64()), ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()), ("stats", pa.string()),
                # dropping this on checkpoint would resurrect
                # DV-deleted rows after log cleanup
                ("deletionVector", pa.struct([
                    ("storageType", pa.string()),
                    ("pathOrInlineDv", pa.string()),
                    ("offset", pa.int32()),
                    ("sizeInBytes", pa.int32()),
                    ("cardinality", pa.int64()),
                ])),
                # row tracking: dropping these on checkpoint would
                # re-mint every row id after log cleanup
                ("baseRowId", pa.int64()),
                ("defaultRowCommitVersion", pa.int64()),
            ])),
            ("remove", pa.struct([
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([
                    ("provider", pa.string()), ("options", str_map),
                ])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", str_map),
                ("createdTime", pa.int64()),
            ])),
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ])),
            ("domainMetadata", pa.struct([
                ("domain", pa.string()),
                ("configuration", pa.string()),
                ("removed", pa.bool_()),
            ])),
        ])

        def mapped(action: dict | None) -> dict | None:
            if action is None:
                return None
            out = dict(action)
            for k in ("partitionValues", "configuration", "options"):
                if isinstance(out.get(k), dict):
                    out[k] = list(out[k].items())
            if isinstance(out.get("format"), dict):
                out["format"] = mapped(out["format"])
            return out

        cols = {
            name: pa.array(
                [mapped(r.get(name)) for r in rows],
                type=schema.field(name).type,
            )
            for name in schema.names
        }
        pq.write_table(
            pa.table(cols, schema=schema), self._checkpoint_parquet(v)
        )
        with open(os.path.join(self.log_dir, "_last_checkpoint"),
                  "w") as f:
            json.dump({"version": v, "size": len(rows)}, f,
                      separators=(",", ":"))
        return v

    def _read_checkpoint(self, version: int) -> list[dict]:
        import pyarrow.parquet as pq

        out: list[dict] = []
        for row in pq.read_table(
            self._checkpoint_parquet(version)
        ).to_pylist():
            for kind, val in row.items():
                if val is None:
                    continue
                val = {k: v for k, v in val.items() if v is not None}
                for k in ("partitionValues", "configuration"):
                    # metaData.configuration is a map (decoded as pair
                    # list); domainMetadata.configuration is a JSON
                    # STRING — leave it alone
                    if k in val and isinstance(val[k], list):
                        val[k] = dict(val[k])
                fmt = val.get("format")
                if fmt is not None:
                    fmt = {k: v for k, v in fmt.items() if v is not None}
                    fmt["options"] = dict(fmt.get("options") or [])
                    val["format"] = fmt
                out.append({kind: val})
        return out

    def last_txn_version(self, app_id: str) -> int:
        """Highest ``txn`` action version recorded for ``app_id`` — the
        Delta spec's transaction-identifier mechanism: a streaming
        writer stamps each commit with (appId, version) and skips any
        batch whose version it has already recorded, turning replayed
        micro-batches into no-ops (exactly-once effect). Returns -1 if
        the app has never committed."""
        best = -1
        for a in self._actions_upto(self.latest_version()):
            txn = a.get("txn")
            if txn and txn.get("appId") == app_id:
                best = max(best, int(txn.get("version", -1)))
        return best

    # -------------------------------------------------------- data IO
    # Delta's default dataSkippingNumIndexedCols: stats cover the first
    # 32 leaf columns of skippable (primitive, non-binary) type.
    _STATS_MAX_COLS = 32

    @classmethod
    def _stats_columns(cls, schema: T.StructType) -> list[str]:
        skippable = (
            T.StringType, T.ByteType, T.ShortType, T.IntegerType,
            T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
            T.BooleanType,
        )
        return [
            f.name
            for f in schema.fields[: cls._STATS_MAX_COLS]
            if isinstance(f.dataType, skippable)
        ]

    @staticmethod
    def _stat_value(v):
        """JSON-serializable form of a stats bound; datetimes become the
        ISO-8601 strings the Delta spec prescribes for stats JSON."""
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, float) and v != v:  # NaN cannot bound a range
            return None
        return v

    def _collect_file_stats(self, staging: str,
                            schema: T.StructType,
                            exclude: list[str] | None = None
                            ) -> dict[str, dict]:
        """Per-file numRecords/minValues/maxValues/nullCount for every
        staged parquet file in ONE distributed job (grouped on
        input_file_name) — never a job per file. ``exclude`` drops
        columns from the stats (partition columns: their value is in
        partitionValues, not in the data file)."""
        cols = [
            c for c in self._stats_columns(schema)
            if c not in (exclude or [])
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs.append(F.min(c).alias(f"__min__{c}"))
            aggs.append(F.max(c).alias(f"__max__{c}"))
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long").alias(f"__null__{c}")
            )
        rows = (
            self.spark.read.parquet(staging)
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )
        out: dict[str, dict] = {}
        for r in rows:
            stats = {
                "numRecords": r["__n"],
                "minValues": {}, "maxValues": {}, "nullCount": {},
            }
            for c in cols:
                mn = self._stat_value(r[f"__min__{c}"])
                mx = self._stat_value(r[f"__max__{c}"])
                if mn is not None:
                    stats["minValues"][c] = mn
                if mx is not None:
                    stats["maxValues"][c] = mx
                stats["nullCount"][c] = r[f"__null__{c}"]
            # key by path RELATIVE to staging, not basename: partitioned
            # writes repeat part-file names across hive dirs (one task
            # writes the same part-NNNNN-uuid name into every partition
            # it touches). Percent-decode the input_file_name URI so
            # hive dir names that themselves contain escaped chars
            # ('%', space) key identically to what os.walk sees —
            # otherwise those files silently lose their stats row and
            # get dropped from the log.
            from urllib.parse import unquote, urlparse

            out[os.path.relpath(
                unquote(urlparse(r["__f"]).path), staging
            )] = stats
        return out

    def partition_columns(self, version: int | None = None) -> list[str]:
        """The table's partition columns from metaData (spec field
        ``partitionColumns``); [] for unpartitioned or nonexistent."""
        v = self.latest_version() if version is None else version
        if v < 0:
            return []
        meta, _ = self._replay(v)
        return list(meta.get("partitionColumns") or [])

    @staticmethod
    def _hive_partition_values(reldir: str) -> dict[str, str | None]:
        """Decode hive-style dir components (``col=value/...``) into the
        spec's partitionValues map (urlencoded values; the hive default
        partition marker means NULL → JSON null)."""
        from urllib.parse import unquote

        out: dict[str, str | None] = {}
        for part in reldir.split(os.sep):
            if "=" not in part:
                continue
            col, raw = part.split("=", 1)
            out[col] = (
                None if raw == "__HIVE_DEFAULT_PARTITION__"
                else unquote(raw)
            )
        return out

    def _write_data_files(
        self, df: DataFrame, partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> list[dict]:
        """Write df as parquet into the table dir (staged, then renamed
        to uuid-prefixed names) and return the matching add actions,
        each carrying the spec's per-file ``stats`` JSON string (the
        data-skipping index external Delta readers also use).

        Partitioned tables: files land in hive-style directories
        (``col=value/…``, what external Delta readers expect alongside
        partitionValues), the add actions carry the decoded
        partitionValues map, and stats cover only the non-partition
        columns. ``partition_by=None`` inherits the table's metaData
        partitionColumns, so every rewrite path (append, overwrite,
        upsert, delete, compact) preserves the layout automatically."""
        if partition_by is None:
            partition_by = self.partition_columns()
        if meta is None:
            meta, _ = self._replay(self.latest_version())
        m = self._phys_map(meta)
        if m:
            # data files store PHYSICAL names (column-mapping spec);
            # stats keys and partitionValues follow automatically
            df = df.select(*[
                F.col(c).alias(m.get(c, c)) for c in df.columns
            ])
            partition_by = [m.get(c, c) for c in partition_by]
        staging = os.path.join(self.path, ".staging", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        has_parquet = any(
            fn.endswith(".parquet")
            for _r, _d, fns in os.walk(staging) for fn in fns
        )
        if not has_parquet:
            # 0-row write (e.g. a delete that empties every touched
            # file, with dynamic partitioning writing no files at
            # all): no adds. Clean only THIS call's staging dir.
            shutil.rmtree(staging, ignore_errors=True)
            return []
        stats_by_file = self._collect_file_stats(
            staging, df.schema, exclude=partition_by
        )
        adds: list[dict] = []
        now_ms = int(time.time() * 1000)
        parquet_files: list[tuple[str, str]] = []  # (reldir, filename)
        for root, _dirs, files in os.walk(staging):
            reldir = os.path.relpath(root, staging)
            for fn in files:
                if fn.endswith(".parquet"):
                    parquet_files.append(
                        ("" if reldir == "." else reldir, fn)
                    )
        for reldir, fn in sorted(parquet_files):
            stats = stats_by_file.get(
                os.path.join(reldir, fn) if reldir else fn
            )
            if stats is None:
                # Only a genuinely empty part file may lack a stats
                # row; verify via the footer — silently skipping a
                # mis-keyed non-empty file would lose data.
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
                        f"staged parquet file {fn!r} has {n_rows} "
                        "rows but no stats row — file-key mismatch; "
                        "refusing to drop it from the log"
                    )
                continue  # 0-row part file (partitions > rows)
            base = f"{uuid.uuid4().hex[:12]}-{fn}"
            rel = os.path.join(reldir, base) if reldir else base
            dst = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(staging, reldir, fn), dst)
            adds.append(
                {
                    "add": {
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": (
                            self._hive_partition_values(reldir)
                            if reldir else {}
                        ),
                        "size": os.path.getsize(dst),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "stats": json.dumps(stats,
                                            separators=(",", ":")),
                    }
                }
            )
        # Only this call's uuid dir — never the shared .staging parent
        # (a concurrent writer may still be staging there).
        shutil.rmtree(staging, ignore_errors=True)
        return adds


    # ------------------------------------------- column mapping
    @staticmethod
    def _mapping_mode(meta: dict) -> str:
        return (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )

    @classmethod
    def _phys_map(cls, meta: dict) -> dict[str, str] | None:
        """logical name -> physical name, or None when the table does
        not use column mapping (names are then physical)."""
        if cls._mapping_mode(meta) != "name":
            return None
        fields = json.loads(meta["schemaString"])["fields"]
        return {
            f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
            for f in fields
        }

    @classmethod
    def _phys(cls, meta: dict, col: str) -> str:
        m = cls._phys_map(meta)
        return m.get(col, col) if m else col

    @classmethod
    def _physical_struct(cls, meta: dict) -> T.StructType:
        """The schema as data files store it: physical names, logical
        types, no mapping metadata."""
        logical = T.StructType.fromJson(json.loads(meta["schemaString"]))
        m = cls._phys_map(meta) or {}
        return T.StructType([
            T.StructField(m.get(f.name, f.name), f.dataType, True)
            for f in logical.fields
        ])

    def _scan(
        self,
        rels: list[str],
        meta: dict,
        active: dict[str, dict] | None = None,
        tags: bool = False,
        row_tracking: bool = False,
    ) -> DataFrame:
        """LOGICAL view of a file subset: physical-named files are
        read with the physical schema, deletion vectors applied when
        ``active`` is given, and columns aliased back to their logical
        names. ``tags=True`` additionally keeps ``__fname``/``__pos``
        (file basename + row position) for callers that write DVs.
        ``row_tracking=True`` (requires ``active``) appends the
        EFFECTIVE ``_row_id``/``_row_commit_version`` columns —
        COALESCE(materialized column, baseRowId + position /
        defaultRowCommitVersion), the spec's fresh-row-id rule; the
        per-file constants ride one broadcast O(files) relation."""
        logical = T.StructType.fromJson(json.loads(meta["schemaString"]))
        m = self._phys_map(meta)
        read_schema = self._physical_struct(meta) if m else logical
        if row_tracking:
            if active is None:
                raise ValueError("row_tracking scan needs the add map")
            read_schema = T.StructType(read_schema.fields + [
                T.StructField(self.ROW_ID_COL, T.LongType(), True),
                T.StructField(self.ROW_CV_COL, T.LongType(), True),
            ])
        reader = self.spark.read
        if not any(os.path.isabs(r) for r in rels):
            # basePath reconstructs hive partition dirs for the
            # table's OWN files; absolute add paths (spec-legal —
            # the uniform view's external data files) live outside
            # the root, where basePath would refuse the read. Such
            # tables are gated unpartitioned, so nothing is lost.
            reader = reader.option("basePath", self.path)
        df = reader.schema(read_schema).parquet(
            *[os.path.join(self.path, r) for r in rels]
        )
        need_tags = tags or bool(active) or row_tracking
        if need_tags:
            df = df.withColumn(
                "__fname",
                F.substring_index(
                    F.col("_metadata.file_path"), "/", -1
                ),
            ).withColumn("__pos", F.col("_metadata.row_index"))
        if active:
            dv_items = [
                (os.path.basename(r), active[r]["deletionVector"])
                for r in rels
                if active.get(r, {}).get("deletionVector") is not None
            ]
            if dv_items:
                df = df.join(
                    self._dv_positions_df(dv_items),
                    ["__fname", "__pos"], "left_anti",
                )
        if row_tracking:
            rt = self.spark.createDataFrame(
                [
                    (
                        os.path.basename(r),
                        active.get(r, {}).get("baseRowId"),
                        active.get(r, {}).get(
                            "defaultRowCommitVersion"
                        ),
                    )
                    for r in rels
                ],
                "__fname string, __base long, __dcv long",
            )
            df = (
                df.join(F.broadcast(rt), "__fname", "left")
                .withColumn(
                    self.ROW_ID_COL,
                    F.coalesce(F.col(self.ROW_ID_COL),
                               F.col("__base") + F.col("__pos")),
                )
                .withColumn(
                    self.ROW_CV_COL,
                    F.coalesce(F.col(self.ROW_CV_COL),
                               F.col("__dcv")),
                )
                .drop("__base", "__dcv")
            )
        cols = [
            F.col(m.get(f.name, f.name) if m else f.name)
            .alias(f.name)
            for f in logical.fields
        ]
        if row_tracking:
            cols += [F.col(self.ROW_ID_COL), F.col(self.ROW_CV_COL)]
        if tags:
            cols += [F.col("__fname"), F.col("__pos")]
        return df.select(*cols)

    def snapshot_row_tracking(self, version: int | None = None
                              ) -> DataFrame:
        """Current rows PLUS the effective ``_row_id`` /
        ``_row_commit_version`` columns (spec Row Tracking). Files
        from before ``enable_row_tracking`` read as NULL row ids, per
        the spec's upgrade semantics."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        if not active:
            schema = T.StructType.fromJson(
                json.loads(meta["schemaString"])
            ).add(self.ROW_ID_COL, T.LongType(), True).add(
                self.ROW_CV_COL, T.LongType(), True
            )
            return self.spark.createDataFrame([], schema)
        return self._scan(
            sorted(active), meta, active=active, row_tracking=True
        )

    def _read_files(
        self, rels: list[str], schema: T.StructType | None = None,
        active: dict[str, dict] | None = None,
    ) -> DataFrame:
        """Read a subset of table files with ``basePath`` pinned to the
        table root, so hive-style partition directories (partitioned
        tables) reconstruct their partition columns exactly as an
        external Delta reader would. When ``schema`` (the metaData
        schema of the version being read) is given, it is pinned on the
        reader: files written BEFORE a schema evolution lack the new
        columns and surface them as NULL — the spec's read semantics —
        instead of depending on which file's footer Spark samples.

        When ``active`` (the replayed add map) is given, deletion
        vectors attached to the requested files are APPLIED: rows the
        DVs mark dead are anti-joined out by (file, row position) —
        the protocol's merge-on-read semantics. Callers that pass the
        add map therefore always see the logical table."""
        reader = self.spark.read
        if not any(os.path.isabs(r) for r in rels):
            # see _scan: absolute (external) add paths skip basePath
            reader = reader.option("basePath", self.path)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(
            *[os.path.join(self.path, r) for r in rels]
        )
        if active is None:
            return df
        dv_items = [
            (os.path.basename(r), active[r]["deletionVector"])
            for r in rels
            if active.get(r, {}).get("deletionVector") is not None
        ]
        if not dv_items:
            return df
        tagged = df.withColumn(
            "__fname",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        ).withColumn("__pos", F.col("_metadata.row_index"))
        return tagged.join(
            self._dv_positions_df(dv_items), ["__fname", "__pos"],
            "left_anti",
        ).drop("__fname", "__pos")

    def _dv_positions_df(
        self, dv_items: list[tuple[str, dict]]
    ) -> DataFrame:
        """(file basename, DV descriptor) pairs → a distributed
        (__fname, __pos) frame of dead positions: one Arrow task per
        descriptor decodes its bitmap worker-side, so DV cardinality
        never materializes on the driver. Basenames are join-safe
        because every data file name embeds a uuid."""
        src = self.spark.createDataFrame(
            [(b, json.dumps(d)) for b, d in dv_items],
            "f string, d string",
        ).repartition(max(1, min(len(dv_items), 32)))
        table_path = self.path

        def decode(batches):
            import pandas as pd

            from fda_clinical_etl_pipeline_spark.sources.delta_dv import (
                read_dv,
            )

            for pdf in batches:
                for fname, dj in zip(pdf["f"], pdf["d"]):
                    pos = read_dv(table_path, json.loads(dj))
                    yield pd.DataFrame(
                        {"__fname": fname, "__pos": pos}
                    )

        return src.mapInPandas(decode, "__fname string, __pos long")

    # ---------------------------------------------- data skipping
    @staticmethod
    def _file_stats(add: dict) -> dict | None:
        s = add.get("stats")
        return json.loads(s) if s else None

    @classmethod
    def _stats_exclude(cls, add: dict, col: str, lo, hi) -> bool:
        """True iff this file's stats PROVE no row can satisfy
        ``lo <= col <= hi`` (either bound may be None = unbounded).
        Files without stats (or without bounds for ``col``, unless
        provably all-NULL) are never excluded."""
        st = cls._file_stats(add)
        if not st:
            return False
        mn = st.get("minValues", {}).get(col)
        mx = st.get("maxValues", {}).get(col)
        if mn is None or mx is None:
            nulls = st.get("nullCount", {}).get(col)
            n = st.get("numRecords")
            # bounds absent but every row is NULL: no non-NULL value
            # can match a range predicate
            return nulls is not None and n is not None and nulls == n
        if lo is not None and cls._stat_value(lo) > mx:
            return True
        if hi is not None and cls._stat_value(hi) < mn:
            return True
        return False

    def _prune_by_values(self, active: dict[str, dict], col: str,
                         values) -> list[str]:
        """Log-only pruning: files whose stats range could contain at
        least one of ``values``. Zero Spark jobs, zero file reads."""
        import bisect

        vals = sorted(
            self._stat_value(v) for v in values if v is not None
        )
        out: list[str] = []
        for rel, add in sorted(active.items()):
            st = self._file_stats(add)
            if not st:
                out.append(rel)
                continue
            mn = st.get("minValues", {}).get(col)
            mx = st.get("maxValues", {}).get(col)
            if mn is None or mx is None:
                if self._stats_exclude(add, col, None, None):
                    continue  # provably all-NULL keys
                out.append(rel)
                continue
            if not vals:
                continue
            i = bisect.bisect_left(vals, mn)
            if i < len(vals) and vals[i] <= mx:
                out.append(rel)
        return out

    def _touched_files(self, active: dict[str, dict], meta: dict,
                       inc: DataFrame, key: str) -> tuple[list[str], int]:
        """Files that can hold an incoming key, plus the batch's
        distinct-key count. Driver-bounded by a CONSTANT whatever the
        batch size: small batches (≤ keyindex.key_collect_cap()) keep
        the historical collect + driver bisect; larger batches prune
        via a distributed binary-search of the per-file stats bounds
        into the keys and an exact-membership semi-join — the driver
        receives only per-file verdicts (see sources/keyindex.py)."""
        from . import keyindex

        pkey = self._phys(meta, key)
        keys_df = keyindex.distinct_keys(inc, key)
        small = keyindex.collect_keys_if_small(keys_df)
        if small is not None:
            cands = self._prune_by_values(active, pkey, small)
            return (
                self._files_containing(cands, pkey, small), len(small)
            )
        n_keys = keys_df.count()
        bounds: list[tuple] = []
        always: list[str] = []
        for rel, add in sorted(active.items()):
            st = self._file_stats(add)
            if not st:
                always.append(rel)
                continue
            mn = st.get("minValues", {}).get(pkey)
            mx = st.get("maxValues", {}).get(pkey)
            if mn is None or mx is None:
                if self._stats_exclude(add, pkey, None, None):
                    continue  # provably all-NULL keys
                always.append(rel)
                continue
            bounds.append((rel, mn, mx))
        hit = keyindex.stats_prune_distributed(keys_df, bounds)
        cands = sorted(
            always + [rel for rel, _, _ in bounds if rel in hit]
        )
        if not cands:
            return [], n_keys
        names = keyindex.files_containing_distributed(
            self._read_files(cands), pkey, keys_df
        )
        return (
            [r for r in cands if os.path.basename(r) in names], n_keys
        )

    def _files_containing(self, rels: list[str], col: str,
                          values) -> list[str]:
        """Exact membership over the stats-pruned candidates in ONE
        distributed job (input_file_name-grouped), never a job per
        file."""
        if not rels:
            return []
        hits = (
            self._read_files(rels)
            .select(F.col(col), F.input_file_name().alias("__f"))
            .filter(F.col(col).isin(list(values)))
            .select("__f")
            .distinct()
            .collect()
        )
        bases = {os.path.basename(r["__f"]) for r in hits}
        return [r for r in rels if os.path.basename(r) in bases]

    @staticmethod
    def _remove_actions(active: dict[str, dict]) -> list[dict]:
        now_ms = int(time.time() * 1000)
        return [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for rel in sorted(active)
        ]

    @staticmethod
    def _commit_info(op: str) -> dict:
        return {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": op,
                "operationParameters": {},
                "engineInfo": "fda-clinical-etl-pipeline-spark delta-protocol writer",
            }
        }

    def clone(
        self, target_path: str, mode: str = "shallow"
    ) -> "DeltaProtocolTable":
        """CLONE the table's latest version into a NEW independent
        table at ``target_path`` (Delta's CREATE TABLE CLONE).

        ``shallow``: zero-copy — every active data file (and live
        deletion-vector file) hardlinks into the target, so no data
        bytes move however large the table; the target gets its own
        log (fresh table id, copied protocol/schema/partitioning,
        the active adds re-committed as version 0). Hardlinks make
        the clone SAFER than the spec's absolute-path shallow clone:
        either table may vacuum, rewrite, or drop files without
        dangling the other (the filesystem keeps the bytes while any
        link lives). On an object store you would write
        absolute-path add actions instead; the log shape is
        unchanged. Falls back to byte copies when the filesystem
        refuses links (cross-device).

        ``deep``: byte copies, fully independent storage.

        History does NOT clone (version 0 is the flattened latest
        state) — matching CLONE semantics, not RESTORE."""
        if mode not in ("shallow", "deep"):
            raise ValueError(f"unknown clone mode {mode!r}")
        from fda_clinical_etl_pipeline_spark.sources.delta_dv import (
            dv_file_of,
        )

        v = self.latest_version()
        if v < 0:
            raise ValueError("cannot clone an empty (uncreated) table")
        target = type(self)(
            self.spark, target_path,
            key=self.key, precombine=self.precombine,
        )
        if target.latest_version() >= 0:
            raise ValueError(
                f"delta table already exists at {target_path}"
            )
        meta, active = self._replay(v)
        protocol = None
        for a in self._actions_upto(v):
            if "protocol" in a:
                protocol = a["protocol"]
        os.makedirs(target_path, exist_ok=True)

        def _place(rel: str) -> None:
            src = os.path.join(self.path, rel)
            dst = os.path.join(target_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if mode == "deep":
                shutil.copy2(src, dst)
                return
            try:
                os.link(src, dst)
            except OSError:  # cross-device / fs without hardlinks
                shutil.copy2(src, dst)

        adds = []
        for rel in sorted(active):
            add = dict(active[rel])
            _place(rel)
            dv = add.get("deletionVector")
            if dv:
                dv_abs = dv_file_of(self.path, dv)
                if dv_abs:
                    _place(os.path.relpath(dv_abs, self.path))
            adds.append({"add": add})
        new_meta = dict(meta)
        new_meta["id"] = str(uuid.uuid4())
        new_meta["createdTime"] = int(time.time() * 1000)
        # row tracking survives CLONE: the files (and their
        # baseRowId-stamped adds) are identical, so the high-water
        # mark domain metadata must carry or the clone would re-mint
        # ids already in use
        domain_actions = [
            {"domainMetadata": a["domainMetadata"]}
            for a in self._actions_upto(v)
            if a.get("domainMetadata", {}).get("domain")
            == self._RT_DOMAIN
        ][-1:]
        actions = [
            self._commit_info("CLONE"),
            {"protocol": protocol
             or {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": new_meta},
            *domain_actions,
            *adds,
        ]
        target._write_commit(0, actions)
        return target

    def cleanup_log(self, retain_versions: int = 0) -> list[str]:
        """The spec's metadata cleanup: delete JSON commits no longer
        needed for replay — everything older than (newest checkpoint −
        ``retain_versions``). Replay of any version ≥ the checkpoint
        still works (checkpoint + later commits); time travel and
        table_changes below the kept window stop working, exactly the
        spec's log-retention trade-off. Requires a checkpoint (write
        one first); returns the deleted paths."""
        v = self.latest_version()
        cp = self._latest_checkpoint_leq(v)
        if cp is None:
            raise ValueError(
                "no checkpoint exists; call checkpoint() before "
                "cleanup_log()"
            )
        cut = cp - retain_versions
        removed = []
        for old in range(0, cut):
            fp = self._commit_file(old)
            if os.path.exists(fp):
                os.remove(fp)
                removed.append(fp)
        return removed

    # ------------------------------------------- CHECK constraints
    def constraints(self, version: int | None = None) -> dict[str, str]:
        """name → SQL expression of every CHECK constraint recorded in
        the spec's ``delta.constraints.<name>`` table properties."""
        v = self.latest_version() if version is None else version
        if v < 0:
            return {}
        meta, _ = self._replay(v)
        cfg = meta.get("configuration") or {}
        pfx = "delta.constraints."
        return {
            k[len(pfx):]: expr for k, expr in cfg.items()
            if k.startswith(pfx)
        }

    def add_check_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: validates EXISTING rows satisfy
        ``expr`` (one distributed scan, same as Delta's writer), then
        commits the ``delta.constraints.<name>`` property and bumps the
        protocol to the spec's writer version 3 (checkConstraints).
        Subsequent appends/overwrites/upserts refuse batches that
        violate any recorded constraint."""
        v = self.latest_version()
        meta, _ = self._replay(v)
        bad = (
            self.snapshot(v)
            .filter(~(F.expr(expr).isNull() | F.expr(expr)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"existing rows violate CHECK constraint {name} "
                f"({expr}): e.g. {bad[0].asDict()}"
            )
        new_meta = dict(meta)
        new_meta["configuration"] = {
            **(meta.get("configuration") or {}),
            f"delta.constraints.{name}": expr,
        }
        return self._commit_with_retry(
            v + 1,
            [
                self._commit_info("ADD CONSTRAINT"),
                {"protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 3}},
                {"metaData": new_meta},
            ],
            read_version=v,
        )

    def drop_check_constraint(self, name: str) -> int:
        v = self.latest_version()
        meta, _ = self._replay(v)
        cfg = dict(meta.get("configuration") or {})
        if cfg.pop(f"delta.constraints.{name}", None) is None:
            raise ValueError(f"no CHECK constraint named {name}")
        new_meta = dict(meta)
        new_meta["configuration"] = cfg
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("DROP CONSTRAINT"),
             {"metaData": new_meta}],
            read_version=v,
        )

    # ------------------------------------------- generated columns
    def _generated_exprs(self, meta: dict | None = None) -> dict:
        """{column: generation expression} from schemaString field
        metadata (spec: ``delta.generationExpression``)."""
        if meta is None:
            v = self.latest_version()
            if v < 0:
                return {}
            meta, _ = self._replay(v)
        out = {}
        for f in json.loads(meta["schemaString"])["fields"]:
            gen = (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            if gen:
                out[f["name"]] = gen
        return out

    def _complete_generated(self, df: DataFrame) -> DataFrame:
        """Compute any generated column the batch omits from its
        generation expression — the spec's writer rule for the
        generatedColumns feature (columns the batch DOES carry are
        checked for equality in ``_enforce_constraints``)."""
        for name, gen in self._generated_exprs().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(gen))
        return df


    # ------------------------------------------- identity columns
    def _identity_specs(self, meta: dict | None = None) -> dict:
        """{column: {start, step, allow_explicit, hwm}} from the
        spec's ``delta.identity.*`` schemaString field metadata."""
        if meta is None:
            v = self.latest_version()
            if v < 0:
                return {}
            meta, _ = self._replay(v)
        out: dict[str, dict] = {}
        for f in json.loads(meta["schemaString"])["fields"]:
            md = f.get("metadata") or {}
            if not any(k.startswith("delta.identity.") for k in md):
                continue
            out[f["name"]] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1)),
                "allow_explicit": bool(
                    md.get("delta.identity.allowExplicitInsert",
                           False)
                ),
                "hwm": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md else None
                ),
            }
        return out

    @staticmethod
    def _complete_identity(df: DataFrame, specs: dict) -> DataFrame:
        """Assign system-generated values for identity columns the
        batch omits: ``hwm + step * (monotonically_increasing_id()+1)``
        — unique and strictly beyond the high-water mark in the step
        direction. Values are deliberately SPARSE (the spec guarantees
        uniqueness and direction, not contiguity — task-range
        allocation is what real writers do too). A batch that carries
        the column explicitly refuses unless allowExplicitInsert."""
        for col, sp in specs.items():
            if col in df.columns:
                if not sp["allow_explicit"]:
                    raise ValueError(
                        f"identity column {col!r} is GENERATED ALWAYS "
                        "(allowExplicitInsert=false): remove it from "
                        "the batch and let the writer assign values"
                    )
                continue
            base = sp["hwm"] if sp["hwm"] is not None else (
                sp["start"] - sp["step"]
            )
            df = df.withColumn(
                col,
                (F.lit(base) + F.lit(sp["step"])
                 * (F.monotonically_increasing_id() + 1)
                 ).cast("long"),
            )
        return df

    def _fold_identity_hwm(
        self, actions: list[dict], version: int
    ) -> list[dict]:
        """Central high-water-mark maintenance (the identityColumns
        writer obligation), mirroring ``_stamp_row_ids``: every commit
        folds its new add actions' stats bounds for each identity
        column into ``delta.identity.highWaterMark`` — so append,
        overwrite, upsert (both modes), MERGE, and compaction all
        advance the mark with ZERO extra jobs (the write already
        collected per-file stats). Re-run per retry attempt: a rebase
        may land after a concurrent commit that moved the mark."""
        meta = None
        if version > 0:
            try:
                meta, _ = self._replay(version - 1)
            except Exception:
                meta = None
        for a in actions:
            if "metaData" in a:
                meta = a["metaData"]
        if meta is None:
            return actions
        specs = self._identity_specs(meta)
        if not specs:
            return actions
        phys = self._phys_map(meta) or {}
        new_hwm: dict[str, int] = {}
        for col, sp in specs.items():
            pc = phys.get(col, col)
            up = sp["step"] > 0
            best = sp["hwm"]
            for a in actions:
                if "add" not in a:
                    continue
                st = self._file_stats(a["add"])
                if not st:
                    continue
                b = (st.get("maxValues") if up
                     else st.get("minValues")).get(pc)
                if b is None:
                    continue
                b = int(b)
                if best is None or (b > best if up else b < best):
                    best = b
            if best is not None and best != sp["hwm"]:
                new_hwm[col] = best
        if not new_hwm:
            return actions
        fields = []
        for f in json.loads(meta["schemaString"])["fields"]:
            if f["name"] in new_hwm:
                f = {**f, "metadata": {
                    **(f.get("metadata") or {}),
                    "delta.identity.highWaterMark":
                        new_hwm[f["name"]],
                }}
            fields.append(f)
        new_meta = {
            **meta,
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields},
                separators=(",", ":"),
            ),
        }
        out = [a for a in actions if "metaData" not in a]
        # metaData directly after commitInfo (position is cosmetic;
        # replay is order-independent per action type)
        out.insert(
            1 if out and "commitInfo" in out[0] else 0,
            {"metaData": new_meta},
        )
        return out

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Refuse a write whose batch violates any CHECK constraint or
        legacy column INVARIANT, and refuse deviations from GENERATED
        column expressions — the three legacy writer rules the protocol
        requires of any writer claiming them. Nulls satisfy checks
        (ANSI semantics: only FALSE violates). One bounded job
        (limit-1 per rule) before the write."""
        rules: list[tuple[str, str]] = list(
            self.constraints().items()
        )
        v = self.latest_version()
        if v >= 0:
            meta, _ = self._replay(v)
            for col in self._identity_specs(meta):
                # identity values are never NULL — a merge/upsert
                # whose insert path drops the column must refuse
                rules.append(
                    (f"identity({col})", f"{col} IS NOT NULL")
                )
            for f in json.loads(meta["schemaString"])["fields"]:
                md = f.get("metadata") or {}
                inv = md.get("delta.invariants")
                if inv:
                    # spec shape: {"expression": {"expression": "..."}}
                    try:
                        expr = json.loads(inv)["expression"][
                            "expression"
                        ]
                    except (ValueError, KeyError, TypeError):
                        expr = str(inv)
                    rules.append((f"invariant({f['name']})", expr))
                gen = md.get("delta.generationExpression")
                if gen and f["name"] in df.columns:
                    # a generated column's stored value must equal its
                    # expression (null-safe), per the spec's writer rule
                    rules.append((
                        f"generated({f['name']})",
                        f"`{f['name']}` <=> ({gen})",
                    ))
        for name, expr in rules:
            bad = (
                df.filter(~(F.expr(expr).isNull() | F.expr(expr)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"write rule {name} ({expr}) violated by "
                    f"incoming row: {bad[0].asDict()}"
                )

    def _check_append_only(self, op: str) -> None:
        """The appendOnly writer feature / delta.appendOnly property:
        commits that remove or rewrite data refuse."""
        v = self.latest_version()
        if v < 0:
            return
        meta, _ = self._replay(v)
        if (meta.get("configuration") or {}).get(
            "delta.appendOnly"
        ) == "true":
            raise ValueError(
                f"{op} refused: table is appendOnly "
                "(delta.appendOnly=true) — only appends are allowed"
            )

    # ------------------------------------------- change data feed
    def cdf_enabled(self, version: int | None = None) -> bool:
        v = self.latest_version() if version is None else version
        if v < 0:
            return False
        meta, _ = self._replay(v)
        return (
            (meta.get("configuration") or {})
            .get("delta.enableChangeDataFeed") == "true"
        )

    def _write_cdc_files(self, changes: DataFrame,
                         meta: dict | None = None) -> list[dict]:
        """Write change rows (table columns + ``_change_type``) as
        parquet under ``_change_data/`` and return the spec's ``cdc``
        actions (``dataChange: false`` — change files never contribute
        to the table's state, only to table_changes readers). Change
        files are written flat (partition columns stay as ordinary
        columns inside the file), which external readers accept."""
        if meta is None:
            meta, _ = self._replay(self.latest_version())
        m = self._phys_map(meta)
        if m:
            changes = changes.select(*[
                F.col(c).alias(m.get(c, c)) for c in changes.columns
            ])  # _change_type is not a table column: never mapped
        cdc_dir = os.path.join(self.path, "_change_data")
        staging = os.path.join(cdc_dir, ".staging", uuid.uuid4().hex)
        changes.write.mode("overwrite").parquet(staging)
        os.makedirs(cdc_dir, exist_ok=True)
        out = []
        for root, _dirs, files in os.walk(staging):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                base = f"{uuid.uuid4().hex[:12]}-{fn}"
                dst = os.path.join(cdc_dir, base)
                os.rename(os.path.join(root, fn), dst)
                out.append(
                    {
                        "cdc": {
                            "path": f"_change_data/{base}",
                            "partitionValues": {},
                            "size": os.path.getsize(dst),
                            "dataChange": False,
                        }
                    }
                )
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _upsert_changes(
        self, merged: DataFrame, current: DataFrame, key: str,
        cols: list[str],
    ) -> DataFrame:
        """Row-level changes a COW merge makes: keys absent from the
        rewritten files' prior rows are inserts; prior rows whose
        merged row differs are update_preimage/update_postimage pairs;
        prior rows the merge leaves byte-identical (incoming lost the
        precombine) produce NO change rows — the same rows external
        MERGE CDF readers would see."""
        # merged derives from current (union lineage shares attribute
        # ids) — rename the old side into fresh attributes instead of
        # DataFrame aliases, so the self-join resolves unambiguously
        o = current.select(
            *[F.col(c).alias(f"_o_{c}") for c in cols]
        )
        joined = merged.join(
            o, F.col(key) == F.col(f"_o_{key}"), "left"
        )
        same = F.lit(True)
        for c in cols:
            same = same & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
        o_cols = [F.col(f"_o_{c}").alias(c) for c in cols]
        inserts = joined.filter(F.col(f"_o_{key}").isNull()).select(
            *cols, F.lit("insert").alias("_change_type")
        )
        updated = joined.filter(
            F.col(f"_o_{key}").isNotNull() & ~same
        )
        pre = updated.select(
            *o_cols, F.lit("update_preimage").alias("_change_type")
        )
        post = updated.select(
            *cols, F.lit("update_postimage").alias("_change_type")
        )
        return inserts.unionByName(pre).unionByName(post)

    def table_changes(
        self, start_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed reader: every row-level change committed in
        ``[start_version, end_version]`` with ``_change_type``,
        ``_commit_version`` and ``_commit_timestamp`` columns — the
        spec's read rules: a commit's ``cdc`` actions are authoritative
        when present; otherwise dataChange adds are inserts and
        dataChange removes are deletes; a commit mixing both without
        cdc actions has no recorded change data and the read REFUSES
        (rather than fabricating changes from rewritten files).
        ``dataChange: false`` rewrites (OPTIMIZE) are invisible."""
        end = self.latest_version() if end_version is None else end_version
        if not self.cdf_enabled(end):
            raise ValueError(
                "change data feed is not enabled on this table "
                "(create with enable_cdf=True)"
            )
        frames = []
        for v in range(start_version, end + 1):
            fp = self._commit_file(v)
            if not os.path.exists(fp):
                raise ValueError(f"missing commit file for version {v}")
            with open(fp) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            meta_v, _ = self._replay(v)
            schema_v = T.StructType.fromJson(
                json.loads(meta_v["schemaString"])
            )
            ts = next(
                (a["commitInfo"]["timestamp"] for a in actions
                 if "commitInfo" in a), None
            )
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            adds = [a["add"] for a in actions if "add" in a
                    and a["add"].get("dataChange", True)]
            removes = [a["remove"] for a in actions if "remove" in a
                       and a["remove"].get("dataChange", True)]
            if cdc:
                # change files store PHYSICAL column names (+ the
                # unmapped _change_type); alias back to logical
                phys_fields = self._physical_struct(meta_v).fields
                cdc_schema = T.StructType(
                    list(phys_fields)
                    + [T.StructField("_change_type", T.StringType())]
                )
                raw = self.spark.read.schema(cdc_schema).parquet(
                    *[os.path.join(self.path, c["path"]) for c in cdc]
                )
                logical_fields = schema_v.fields
                df = raw.select(*[
                    F.col(p.name).alias(lg.name)
                    for p, lg in zip(phys_fields, logical_fields)
                ], F.col("_change_type"))
            elif adds and removes:
                raise ValueError(
                    f"version {v} rewrote files without recording "
                    "change data (cdc actions); its changes cannot "
                    "be reconstructed"
                )
            elif adds:
                df = self._scan(
                    [a["path"] for a in adds], meta_v
                ).withColumn("_change_type", F.lit("insert"))
            elif removes:
                df = self._scan(
                    [r["path"] for r in removes], meta_v
                ).withColumn("_change_type", F.lit("delete"))
            else:
                continue
            frames.append(
                df.withColumn(
                    "_commit_version", F.lit(v).cast("long")
                ).withColumn(
                    "_commit_timestamp", F.lit(ts).cast("long")
                )
            )
        if not frames:
            raise ValueError(
                f"no commits in [{start_version}, {end}]"
            )
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2, allowMissingColumns=True)
        return out

    # ------------------------------------------------------ operations
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key: str | None = None,
        precombine: str | None = None,
        partition_by: list[str] | None = None,
        enable_cdf: bool = False,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> "DeltaProtocolTable":
        """``identity`` maps column name -> {start, step,
        allow_explicit} (spec: ``delta.identity.*`` column metadata,
        the identityColumns table feature). A batch that omits an
        identity column gets system-assigned values — unique and
        strictly beyond the high-water mark in the step direction,
        deliberately sparse (the spec guarantees uniqueness and
        direction, not contiguity); the mark is maintained centrally
        from write stats on every commit (``_fold_identity_hwm``).

        ``generated`` maps column name -> SQL generation expression
        (spec: ``delta.generationExpression`` column metadata, the
        generatedColumns legacy writer-version-4 feature). A generated
        column the batch omits is computed at write time; partitioning
        BY a generated column is Delta's hidden-partitioning idiom —
        ``read_eq`` on the SOURCE column then prunes through the
        expression (the Iceberg-transform twin)."""
        t = cls(spark, path, key=key, precombine=precombine)
        if t.latest_version() >= 0:
            raise ValueError(f"delta table already exists at {path}")
        for name, gen in (generated or {}).items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(gen))
            else:
                bad = df.filter(
                    ~(F.col(name).eqNullSafe(F.expr(gen)))
                ).limit(1).collect()
                if bad:
                    raise ValueError(
                        f"generated column {name} disagrees with its "
                        f"expression ({gen}) on incoming row: "
                        f"{bad[0].asDict()}"
                    )
        missing = [c for c in (partition_by or []) if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        id_specs = {
            col: {
                "start": int(sp.get("start", 1)),
                "step": int(sp.get("step", 1)),
                "allow_explicit": bool(sp.get("allow_explicit",
                                              False)),
                "hwm": None,
            }
            for col, sp in (identity or {}).items()
        }
        for col, sp in id_specs.items():
            if sp["step"] == 0:
                raise ValueError(f"identity {col!r}: step must be "
                                 "nonzero")
            if col in (partition_by or []):
                raise ValueError(
                    f"identity column {col!r} cannot be a partition "
                    "column (the high-water mark folds from file "
                    "stats, which partition columns do not carry)"
                )
        if id_specs:
            df = t._complete_identity(df, id_specs)
            for col in id_specs:
                if df.columns.index(col) >= cls._STATS_MAX_COLS:
                    raise ValueError(
                        f"identity column {col!r} sits beyond the "
                        f"stats width ({cls._STATS_MAX_COLS}): its "
                        "high-water mark could not be maintained"
                    )
        os.makedirs(path, exist_ok=True)
        adds = t._write_data_files(df, partition_by=partition_by or [])
        # CDF and generatedColumns are the spec's legacy
        # writer-version-4 features; the table property / column
        # metadata is what external readers and writers check
        protocol = {
            "minReaderVersion": 1,
            "minWriterVersion": 4 if (enable_cdf or generated) else 2,
        }
        needs_variant = any(
            isinstance(f.dataType, T.VariantType)
            for f in df.schema.fields
        )
        if needs_variant or id_specs:
            # variantType (reader+writer) and identityColumns
            # (writer-only) are TABLE FEATURES: the protocol goes
            # feature-explicit, carrying whatever legacy features the
            # other options imply
            feats = set()
            if needs_variant:
                feats.add("variantType")
            if id_specs:
                feats.add("identityColumns")
            if enable_cdf:
                feats.add("changeDataFeed")
            if generated:
                feats.add("generatedColumns")
            protocol = {
                "minReaderVersion": 3 if needs_variant else 1,
                "minWriterVersion": 7,
                "writerFeatures": sorted(feats),
            }
            if needs_variant:
                protocol["readerFeatures"] = ["variantType"]
        config = (
            {"delta.enableChangeDataFeed": "true"} if enable_cdf else {}
        )
        schema = df.schema
        if id_specs:
            schema = T.StructType([
                T.StructField(
                    f.name, f.dataType, f.nullable,
                    metadata={
                        **(f.metadata or {}),
                        "delta.identity.start":
                            id_specs[f.name]["start"],
                        "delta.identity.step":
                            id_specs[f.name]["step"],
                        "delta.identity.allowExplicitInsert":
                            id_specs[f.name]["allow_explicit"],
                    },
                ) if f.name in id_specs else f
                for f in schema.fields
            ])
        if generated:
            schema = T.StructType([
                T.StructField(
                    f.name, f.dataType, f.nullable,
                    metadata={
                        **(f.metadata or {}),
                        "delta.generationExpression":
                            generated[f.name],
                    },
                ) if f.name in generated else f
                for f in schema.fields
            ])
        actions = [
            t._commit_info("CREATE TABLE AS SELECT"),
            {"protocol": protocol},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": list(partition_by or []),
                    "configuration": config,
                    "createdTime": int(time.time() * 1000),
                }
            },
            *adds,
        ]
        t._write_commit(0, t._fold_identity_hwm(actions, 0))
        return t

    def _resolve_write_schema(
        self, df: DataFrame, merge_schema: bool
    ) -> tuple[DataFrame, list[dict]]:
        """Reconcile an incoming batch against the table schema.

        Exact column-name match → aligned df, no metadata change.
        Otherwise: with ``merge_schema`` the table schema EVOLVES —
        new columns append (Delta's mergeSchema), columns the batch
        omits fill with NULL, and the commit carries a new metaData
        action (same table id, evolved schemaString); without it the
        mismatch is refused loudly. Same-name type conflicts always
        refuse — automatic upcasts hide corruption at scale."""
        meta, _ = self._replay(self.latest_version())
        current = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cur_fields = {f.name: f for f in current.fields}
        new_fields = {f.name: f for f in df.schema.fields}
        conflicts = []
        for n, f in new_fields.items():
            if n not in cur_fields or f.dataType == cur_fields[n].dataType:
                continue
            pair = (f.dataType.typeName(),
                    cur_fields[n].dataType.typeName())
            if pair in self._TYPE_WIDENINGS:
                # batch carries the pre-widening narrow type: lossless
                # upcast to the table type (typeWidening write rule)
                df = df.withColumn(
                    n, F.col(n).cast(cur_fields[n].dataType)
                )
                continue
            conflicts.append(n)
        if conflicts:
            raise ValueError(
                f"type conflict on columns {conflicts}: table has "
                f"{[str(cur_fields[c].dataType) for c in conflicts]}"
            )
        # the MATERIALIZED row-tracking columns are protocol-level
        # hidden columns (their names are registered in the table
        # config), not schema columns: pass them through to the files
        # when the table tracks rows instead of treating them as a
        # schema mismatch
        rt_cols = [
            c for c in (self.ROW_ID_COL, self.ROW_CV_COL)
            if c in new_fields
            and self._row_id_hwm(self.latest_version()) is not None
        ]
        extra = [
            n for n in new_fields
            if n not in cur_fields and n not in rt_cols
        ]
        missing = [n for n in cur_fields if n not in new_fields]
        if not extra and not missing:
            return df.select(
                *[f.name for f in current.fields], *rt_cols
            ), []
        if not merge_schema:
            raise ValueError(
                f"schema mismatch (extra={extra}, missing={missing}); "
                "pass merge_schema=True to evolve the table schema"
            )
        added = [new_fields[n] for n in df.columns if n in extra]
        new_meta = dict(meta)
        if self._mapping_mode(meta) == "name":
            # evolution under column mapping: new columns get a fresh
            # mapping id and a uuid physical name, and maxColumnId
            # advances (spec rule — ids are never reused)
            config = dict(meta.get("configuration") or {})
            max_id = int(config.get("delta.columnMapping.maxColumnId",
                                    len(current.fields)))
            mapped = []
            for f in added:
                max_id += 1
                mapped.append(T.StructField(
                    f.name, f.dataType, True,
                    metadata={
                        "delta.columnMapping.id": max_id,
                        "delta.columnMapping.physicalName":
                            f"col-{uuid.uuid4()}",
                    },
                ))
            added = mapped
            config["delta.columnMapping.maxColumnId"] = str(max_id)
            new_meta["configuration"] = config
        evolved = T.StructType(list(current.fields) + added)
        aligned = df.select(
            *[
                F.col(f.name) if f.name in new_fields
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in evolved.fields
            ],
            *rt_cols,
        )
        new_meta["schemaString"] = evolved.json()
        meta_actions: list[dict] = [{"metaData": new_meta}]
        if any(
            isinstance(f.dataType, T.VariantType) for f in added
        ):
            # first variant column on a legacy table: enable the
            # variantType reader+writer feature in the same commit
            # (obligations preserved by the shared upgrade helper).
            # metaData stays FIRST — callers read meta_actions[0]
            meta_actions = meta_actions + (
                self._protocol_upgrade_for_feature(
                    self.latest_version(), "variantType"
                )
            )
        return aligned, meta_actions

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        aligned, meta_actions = self._resolve_write_schema(
            self._complete_identity(
                self._complete_generated(df), self._identity_specs()
            ),
            merge_schema,
        )
        self._enforce_constraints(aligned)
        v = self.latest_version() + 1
        eff_meta = meta_actions[0]["metaData"] if meta_actions else None
        adds = self._write_data_files(aligned, meta=eff_meta)
        # blind append: rebases automatically onto a moved head
        return self._commit_with_retry(
            v, [self._commit_info("WRITE"), *meta_actions, *adds],
            read_version=v - 1,
        )

    def overwrite(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Replace the table's contents atomically. ``txn`` gives the
        same replay idempotence as ``upsert``: a writer that already
        recorded (app_id, >= version) in the log no-ops — what lets a
        streaming state maintainer overwrite a small state table once
        per micro-batch, exactly-once."""
        if txn is not None and self.last_txn_version(txn[0]) >= txn[1]:
            return self.latest_version()  # replayed batch
        self._check_append_only("overwrite")
        aligned, meta_actions = self._resolve_write_schema(
            self._complete_identity(
                self._complete_generated(df), self._identity_specs()
            ),
            merge_schema,
        )
        self._enforce_constraints(aligned)
        v = self.latest_version()
        _, active = self._replay(v)
        cdc_actions: list[dict] = []
        if self.cdf_enabled(v):
            old = self.snapshot(v).withColumn(
                "_change_type", F.lit("delete")
            )
            new = aligned.withColumn(
                "_change_type", F.lit("insert")
            )
            cdc_actions = self._write_cdc_files(
                old.unionByName(new, allowMissingColumns=True),
                meta_actions[0]["metaData"] if meta_actions else None,
            )
        eff_meta = meta_actions[0]["metaData"] if meta_actions else None
        adds = self._write_data_files(aligned, meta=eff_meta)
        actions = [self._commit_info("WRITE"), *meta_actions,
                   *self._remove_actions(active), *adds,
                   *cdc_actions]
        if txn is not None:
            actions.insert(
                1,
                {"txn": {"appId": txn[0], "version": int(txn[1]),
                         "lastUpdated": int(time.time() * 1000)}},
            )
        return self._commit_with_retry(v + 1, actions, read_version=v)

    def upsert(
        self,
        incoming: DataFrame,
        key: str | None = None,
        precombine: str | None = None,
        txn: tuple[str, int] | None = None,
        mode: str = "auto",
        mor_threshold: float = 0.2,
    ) -> int:
        """Hudi-style upsert: precombine-dedup the incoming batch and
        merge it against ONLY the files that can contain a matched key
        (pruned by per-file key membership). Files with no matched
        keys keep their add actions untouched — the file-group pruning
        that bounds rewrite volume at scale.

        Physical strategy (like ``delete_where``): ``cow`` rewrites
        the touched files merged; ``mor`` deletion-vectors the stored
        rows the batch beats and appends the batch as new data files —
        O(batch) write cost however large the touched files are.
        ``auto`` picks mor when the batch's distinct-key count (an
        upper bound on rows displaced) is < mor_threshold of the
        touched files' live rows — a metadata-only decision.

        ``key``/``precombine`` default to the table's merge identity
        (set at create), which is what lets ``stream_upsert`` drive
        this table one micro-batch at a time.

        ``txn=(app_id, version)`` stamps the commit with the spec's
        transaction identifier and makes replays idempotent: if the log
        already records this app at >= version, the upsert is a no-op
        (returns the current table version without committing)."""
        key = key or self.key
        precombine = precombine or self.precombine
        if not key or not precombine:
            raise ValueError("upsert needs key and precombine "
                             "(pass them or set table defaults)")
        if mode not in ("auto", "mor", "cow"):
            raise ValueError(f"unknown upsert mode {mode!r}")
        self._check_append_only("upsert")
        if txn is not None and self.last_txn_version(txn[0]) >= txn[1]:
            return self.latest_version()  # replayed batch: exactly-once
        v = self.latest_version()
        meta, active = self._replay(v)
        for col, sp in self._identity_specs(meta).items():
            if not sp["allow_explicit"]:
                raise ValueError(
                    f"identity column {col!r} is GENERATED ALWAYS "
                    "(allowExplicitInsert=false): upsert/merge "
                    "batches carry explicit values by construction — "
                    "append instead, or declare the column with "
                    "allow_explicit"
                )
        inc = precombine_latest(
            self._complete_generated(incoming), key, precombine
        )
        # only the incoming batch needs the check: carried-over rows
        # satisfied the constraints when they were written
        self._enforce_constraints(inc)

        # file-group pruning in two narrowing passes: (1) per-file
        # stats exclude every file whose [min,max] key range cannot
        # intersect the incoming keys; (2) exact membership over the
        # survivors. Driver footprint is bounded by a constant: small
        # batches collect, large batches prune distributed
        # (sources/keyindex.py).
        touched, n_keys = self._touched_files(active, meta, inc, key)
        if touched and mode != "cow":
            touched_rows = 0
            for rel in touched:
                st = self._file_stats(active[rel]) or {}
                dvd = active[rel].get("deletionVector") or {}
                touched_rows += (
                    st.get("numRecords", 0)
                    - dvd.get("cardinality", 0)
                )
            # metadata-only strategy pick: the batch's key count
            # upper-bounds the rows displaced
            if mode == "mor" or (
                touched_rows > 0
                and n_keys < mor_threshold * touched_rows
            ):
                return self._upsert_mor(
                    v, meta, active, touched, inc, key, precombine,
                    txn,
                )
        rt_on = self._row_id_hwm(v) is not None
        if rt_on:
            # row tracking: updated rows KEEP the stored row id
            # (materialized in the rewritten files); their commit
            # version stays NULL so it inherits this commit's
            inc = inc.withColumn(
                self.ROW_ID_COL, F.lit(None).cast("long")
            ).withColumn(self.ROW_CV_COL, F.lit(None).cast("long"))
        if touched:
            # active passed so DV-dead rows never re-enter the merge
            current = self._scan(touched, meta, active=active,
                                 row_tracking=rt_on)
        else:
            schema = T.StructType.fromJson(
                json.loads(meta["schemaString"])
            )
            if rt_on:
                schema = schema.add(
                    self.ROW_ID_COL, T.LongType(), True
                ).add(self.ROW_CV_COL, T.LongType(), True)
            current = self.spark.createDataFrame([], schema)
        merged = merge_precombine(current, inc, key, precombine)
        if rt_on and touched:
            merged = attach_stored_row_ids(
                merged, current, key, precombine, self.ROW_ID_COL
            )
        cdc_actions: list[dict] = []
        if self.cdf_enabled(v):
            cols = [
                f.name for f in T.StructType.fromJson(
                    json.loads(meta["schemaString"])
                ).fields
            ]
            cdc_actions = self._write_cdc_files(
                self._upsert_changes(merged, current, key, cols),
                meta,
            )
        adds = self._write_data_files(merged, meta=meta)
        removes = self._remove_actions({r: active[r] for r in touched})
        actions = [self._commit_info("MERGE"), *removes, *adds,
                   *cdc_actions]
        if txn is not None:
            actions.insert(
                1,
                {"txn": {"appId": txn[0], "version": int(txn[1]),
                         "lastUpdated": int(time.time() * 1000)}},
            )
        return self._commit_with_retry(v + 1, actions, read_version=v)

    def _upsert_mor(
        self, v: int, meta: dict, active: dict[str, dict],
        touched: list[str], inc: DataFrame, key: str,
        precombine: str, txn: tuple[str, int] | None,
    ) -> int:
        """Merge-on-read upsert: stored rows the batch beats get
        deletion-vectored in place; the winning batch rows append as
        new data files. One commit: remove+add pairs carrying the
        descriptors, plus plain adds. The stored merge contract is
        identical to the COW path (greatest precombine wins; ties →
        incoming; a stored key with several live copies merges against
        its MAX precombine and every beaten copy dies)."""
        rt_on = self._row_id_hwm(v) is not None
        # ONE scan serves the precombine probe, the doomed set, AND —
        # row-tracked — the rid attach (the touched-file read is the
        # operation's dominant IO; never pay it twice)
        stored = self._scan(touched, meta, active=active, tags=True,
                            row_tracking=rt_on)
        smax = stored.groupBy(key).agg(
            F.max(precombine).alias("__smax")
        )
        winners = inc.join(smax, key, "left").where(
            F.col("__smax").isNull()
            | (F.col(precombine) >= F.col("__smax"))
        ).drop("__smax")
        doomed = stored.join(
            winners.select(key).distinct(), key, "leftsemi"
        )
        cols = [
            f.name for f in T.StructType.fromJson(
                json.loads(meta["schemaString"])
            ).fields
        ]
        cdc_actions: list[dict] = []
        if self.cdf_enabled(v):
            cdc_actions = self._write_cdc_files(
                self._upsert_changes(
                    winners.select(*cols),
                    stored.select(*cols), key, cols,
                ),
                meta,
            )
        descs = self._write_dvs(
            v, {r: active[r] for r in touched}, doomed
        )
        new_rows = winners.select(*cols)
        if rt_on:
            # row tracking: a batch row replacing a stored key keeps
            # that key's row id, MATERIALIZED in the new file; fresh
            # keys stay NULL and mint at commit. Commit version stays
            # NULL → inherits this one.
            new_rows = attach_stored_row_ids(
                new_rows.withColumn(
                    self.ROW_ID_COL, F.lit(None).cast("long")
                ).withColumn(
                    self.ROW_CV_COL, F.lit(None).cast("long")
                ),
                stored, key, precombine, self.ROW_ID_COL,
            )
        adds = self._write_data_files(new_rows, meta=meta)
        if not descs and not adds and txn is None:
            return v  # every batch row lost; nothing to record
        actions = [
            self._commit_info("MERGE"),
            *self._protocol_upgrade_for_dv(v),
            *self._dv_readd_actions(active, descs),
            *adds, *cdc_actions,
        ]
        if txn is not None:
            actions.insert(
                1,
                {"txn": {"appId": txn[0], "version": int(txn[1]),
                         "lastUpdated": int(time.time() * 1000)}},
            )
        return self._commit_with_retry(v + 1, actions, read_version=v)

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
        txn: tuple[str, int] | None = None,
        mode: str = "auto",
        mor_threshold: float = 0.2,
    ) -> int:
        """MERGE INTO — the general three-way lakehouse write
        (Delta's flagship operation; the reference's closest analog
        is the Hudi upsert at hudi/register_hudi.py:58, which is the
        precombine special case ``upsert`` already covers).

        ``on`` is the equality key. Clause arguments mirror the SQL
        clauses; expressions are SQL strings over aliases ``t``
        (target row) and ``s`` (source row):

        - ``when_matched_update``: {target_col: expr} or ``"all"``
          (SET * — every target column from the same-named source
          column), applied when ``matched_update_condition`` (default
          always) holds;
        - ``when_matched_delete``: True or a condition expr —
          evaluated BEFORE the update clause, like listing the DELETE
          clause first;
        - ``when_not_matched_insert``: {target_col: expr} or
          ``"all"``, gated by ``not_matched_insert_condition``;
          columns the spec omits insert NULL;
        - ``when_not_matched_by_source_delete``: True or a condition
          over ``t`` — removes target rows no source row matches.

        Physical strategy over the PRUNED file set (stats-range then
        exact-membership passes, the same two-pass pruning as
        ``upsert``; a by-source clause must consider every row and
        touches all files): ``cow`` rewrites the touched files with
        the merged rows; ``mor`` deletion-vectors ONLY the displaced
        rows in place and appends the updated+inserted rows as new
        files — O(changed rows) write cost however large the touched
        files are, the strategy for key-scattered merges where
        copy-on-write degenerates to an O(table) rewrite (a 100-key
        batch scattered over the keyspace of a 500k-row, 16-file table
        rewrote all 16 files). ``auto`` picks mor when the source's
        distinct-key count (an upper bound on displaced rows) is
        < mor_threshold of the touched files' live rows — metadata
        only; a by-source clause forces cow under ``auto`` (its
        delete volume is not key-bounded).

        Matching rows with MULTIPLE source rows raise (Delta's
        ambiguous-merge error). CDF-enabled tables record insert /
        update_pre+postimage / delete change rows either way. ``txn``
        gives exactly-once replay."""
        from ..plans.merge_clauses import (
            check_ambiguous_source, merged_column, normalize_clauses,
            require_some_clause, stage_merge,
        )

        if mode not in ("auto", "mor", "cow"):
            raise ValueError(f"unknown merge mode {mode!r}")
        self._check_write_protocol()
        require_some_clause(
            when_matched_update, when_matched_delete,
            when_not_matched_insert,
            when_not_matched_by_source_delete,
        )
        if txn is not None and self.last_txn_version(txn[0]) >= txn[1]:
            return self.latest_version()  # replayed batch
        if when_matched_delete is not False \
                or when_not_matched_by_source_delete is not False:
            self._check_append_only("merge")
        v = self.latest_version()
        meta, active = self._replay(v)
        for col, sp in self._identity_specs(meta).items():
            if not sp["allow_explicit"]:
                raise ValueError(
                    f"identity column {col!r} is GENERATED ALWAYS "
                    "(allowExplicitInsert=false): MERGE clauses carry "
                    "explicit values by construction — append "
                    "instead, or declare the column with "
                    "allow_explicit"
                )
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cols = [f.name for f in schema.fields]
        by_name = {f.name: f for f in schema.fields}
        if on not in by_name:
            raise ValueError(f"merge key {on!r} not a target column")
        if on not in source.columns:
            raise ValueError(f"merge key {on!r} not a source column")
        upd, ins = normalize_clauses(
            cols, when_matched_update, when_not_matched_insert
        )

        # ---- prune the rewrite to files that can hold a source key
        n_keys = None
        if when_not_matched_by_source_delete is not False:
            touched = sorted(active)  # by-source looks at every row
        else:
            touched, n_keys = self._touched_files(
                active, meta, source, on
            )
        use_mor = mode == "mor"
        if touched and mode == "auto" and n_keys is not None:
            touched_rows = 0
            for rel in touched:
                st = self._file_stats(active[rel]) or {}
                dvd = active[rel].get("deletionVector") or {}
                touched_rows += (
                    st.get("numRecords", 0)
                    - dvd.get("cardinality", 0)
                )
            # metadata-only strategy pick: distinct source keys
            # upper-bound the rows displaced
            use_mor = (
                touched_rows > 0
                and n_keys < mor_threshold * touched_rows
            )
        rt_on = self._row_id_hwm(v) is not None
        if touched:
            current = self._scan(
                touched, meta, active=active, tags=use_mor,
                row_tracking=rt_on,
            )
        else:
            e_schema = schema
            if rt_on:
                e_schema = schema.add(
                    self.ROW_ID_COL, T.LongType(), True
                ).add(self.ROW_CV_COL, T.LongType(), True)
            current = self.spark.createDataFrame([], e_schema)
            use_mor = False

        if upd or when_matched_delete is not False:
            check_ambiguous_source(current, source, on)
        staged = stage_merge(
            current, source, on,
            upd, matched_update_condition, when_matched_delete,
            ins, not_matched_insert_condition,
            when_not_matched_by_source_delete,
        )

        def _out(c: str):
            return merged_column(c, by_name[c], upd, ins)

        def _lineage_out() -> list:
            # row tracking through MERGE: U keeps the target row's id
            # (commit version inherits this commit), K keeps BOTH,
            # I mints fresh at commit (NULL → baseRowId + position)
            if not rt_on:
                return []
            return [
                F.when(F.col("__act").isin("U", "K"),
                       F.col(f"t.{self.ROW_ID_COL}"))
                .alias(self.ROW_ID_COL),
                F.when(F.col("__act") == "K",
                       F.col(f"t.{self.ROW_CV_COL}"))
                .alias(self.ROW_CV_COL),
            ]

        if use_mor:
            # merge-on-read: DV exactly the displaced rows in place,
            # append only the updated+inserted rows; kept rows never
            # move (O(changed rows) bytes, whatever the touched files hold)
            new_rows = staged.where(
                F.col("__act").isin("U", "I")
            ).select(*[_out(c) for c in cols], *_lineage_out())
            doomed = staged.where(F.col("__act").isin("U", "D"))
            cdc_actions = []
            if self.cdf_enabled(v):
                cdc_actions = self._merge_cdc(staged, _out, cols, meta)
            descs = self._write_dvs(
                v, {r: active[r] for r in touched}, doomed
            )
            adds = self._write_data_files(new_rows, meta=meta)
            actions = [
                self._commit_info("MERGE"),
                *self._protocol_upgrade_for_dv(v),
                *self._dv_readd_actions(active, descs),
                *adds, *cdc_actions,
            ]
            if txn is not None:
                actions.insert(
                    1,
                    {"txn": {"appId": txn[0], "version": int(txn[1]),
                             "lastUpdated": int(time.time() * 1000)}},
                )
            return self._commit_with_retry(
                v + 1, actions, read_version=v
            )

        survivors = staged.where(
            F.col("__act").isin("U", "K", "I")
        ).select(*[_out(c) for c in cols], *_lineage_out())

        cdc_actions: list[dict] = []
        if self.cdf_enabled(v):
            cdc_actions = self._merge_cdc(staged, _out, cols, meta)

        adds = self._write_data_files(survivors, meta=meta)
        removes = self._remove_actions({r: active[r] for r in touched})
        actions = [self._commit_info("MERGE"), *removes, *adds,
                   *cdc_actions]
        if txn is not None:
            actions.insert(
                1,
                {"txn": {"appId": txn[0], "version": int(txn[1]),
                         "lastUpdated": int(time.time() * 1000)}},
            )
        return self._commit_with_retry(v + 1, actions, read_version=v)

    def _merge_cdc(self, staged: DataFrame, _out, cols: list[str],
                   meta: dict) -> list[dict]:
        """CDF change rows of a staged merge: update pre/postimages,
        deletes, inserts — identical for the cow and mor paths."""
        pre = staged.where(F.col("__act").isin("U", "D")).select(
            *[F.col(f"t.{c}").alias(c) for c in cols],
            F.when(F.col("__act") == "U",
                   F.lit("update_preimage"))
            .otherwise(F.lit("delete")).alias("_change_type"),
        )
        post = staged.where(F.col("__act").isin("U", "I")).select(
            *[_out(c) for c in cols],
            F.when(F.col("__act") == "U",
                   F.lit("update_postimage"))
            .otherwise(F.lit("insert")).alias("_change_type"),
        )
        return self._write_cdc_files(pre.unionByName(post), meta)

    def delete_where(self, condition, stats_hint=None,
                     mode: str = "auto",
                     mor_threshold: float = 0.2) -> int:
        """Delete matching rows. Match detection runs as ONE
        distributed job over the (stats-pruned) active files;
        ``stats_hint=(col, lo, hi)`` optionally pre-prunes from the
        commit log's per-file stats for callers that know a range
        implied by their predicate.

        Physical strategy (the protocol's two encodings):

        - ``mor`` — deletion vectors: each touched file gets a
          ``deletion_vector_<uuid>.bin`` (RoaringBitmapArray of dead
          row positions, merged with any existing DV) and its add
          action is re-committed with the ``deletionVector``
          descriptor. O(deleted rows) written however large the
          files; readers merge via the anti-join in ``_read_files``.
          First DV write upgrades the protocol to reader 3 / writer 7
          with the ``deletionVectors`` table feature, per spec.
        - ``cow`` — rewrite the touched files without the matches
          (merge-free reads, bytes reclaimed now).

        ``auto`` picks mor when matched/touched-rows < mor_threshold.
        """
        if mode not in ("auto", "mor", "cow"):
            raise ValueError(f"unknown delete mode {mode!r}")
        self._check_append_only("delete")
        v = self.latest_version()
        meta, active = self._replay(v)
        rels = sorted(active)
        if stats_hint is not None:
            col, lo, hi = stats_hint
            pcol = self._phys(meta, col)
            rels = [
                r for r in rels
                if not self._stats_exclude(active[r], pcol, lo, hi)
            ]
        if not rels:
            return v
        # logical view with (file, position) tags kept and existing
        # DVs applied — already-dead rows are neither re-deleted nor
        # re-counted
        scan = self._scan(rels, meta, active=active, tags=True)
        per_file = {
            r["__fname"]: r["n"]
            for r in scan.filter(condition).groupBy("__fname")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }  # O(touched files)
        by_base = {os.path.basename(r): r for r in rels}
        touched = sorted(by_base[b] for b in per_file)
        if not touched:
            return v  # nothing to do; no empty commit
        cdc_actions: list[dict] = []
        if self.cdf_enabled(v):
            cdc_actions = self._write_cdc_files(
                self._scan(touched, meta, active=active)
                .filter(condition)
                .withColumn("_change_type", F.lit("delete")),
                meta,
            )
        n_matched = sum(per_file.values())
        touched_rows = 0
        for rel in touched:
            st = self._file_stats(active[rel]) or {}
            dv = active[rel].get("deletionVector") or {}
            touched_rows += (
                st.get("numRecords", 0) - dv.get("cardinality", 0)
            )
        if mode == "mor" or (
            mode == "auto"
            and touched_rows > 0
            and n_matched < mor_threshold * touched_rows
        ):
            return self._delete_mor(
                v, active, touched, condition, scan, cdc_actions
            )
        kept = self._scan(
            touched, meta, active=active,
            row_tracking=self._row_id_hwm(v) is not None,
        ).filter(~condition)
        adds = self._write_data_files(kept, meta=meta)
        removes = self._remove_actions(
            {r: active[r] for r in touched}
        )
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("DELETE"), *removes, *adds,
             *cdc_actions],
            read_version=v,
        )

    def _write_dvs(
        self, read_version: int, active: dict[str, dict],
        doomed: DataFrame,
    ) -> dict[str, dict]:
        """``doomed`` (__fname, __pos) rows → {file basename: DV
        descriptor}: per file, union the positions with the file's
        existing DV and write one DV file worker-side via
        applyInPandas — position sets never touch the driver. DV
        uuids are deterministic per (file, commit) so retried commits
        rewrite the same DV file instead of leaking orphans."""
        from fda_clinical_etl_pipeline_spark.sources.delta_dv import (
            read_dv,
        )

        table_path = self.path
        old_dvs = {
            os.path.basename(r): a["deletionVector"]
            for r, a in active.items()
            if a.get("deletionVector")
        }
        old_json = json.dumps(old_dvs, sort_keys=True)
        target_version = read_version + 1

        def build(pdf):
            import pandas as pd

            from fda_clinical_etl_pipeline_spark.sources.delta_dv import (
                write_dv_file,
            )

            fname = pdf["__fname"].iloc[0]
            positions = pdf["__pos"].tolist()
            prior = json.loads(old_json).get(fname)
            if prior:
                positions.extend(read_dv(table_path, prior))
            dv_uuid = uuid.uuid5(
                uuid.NAMESPACE_URL,
                f"dv/{fname}/{target_version}",
            )
            desc = write_dv_file(table_path, dv_uuid, positions)
            return pd.DataFrame(
                {"f": [fname], "desc": [json.dumps(desc)]}
            )

        return {
            r["f"]: json.loads(r["desc"])
            for r in doomed.select("__fname", "__pos")
            .groupBy("__fname")
            .applyInPandas(build, "f string, desc string")
            .collect()
        }  # O(touched files)

    def _dv_readd_actions(
        self, active: dict[str, dict], descs: dict[str, dict]
    ) -> list[dict]:
        """remove+add pairs re-committing each DV'd file's add action
        with its new descriptor (the protocol's encoding of a
        merge-on-read change)."""
        rels = [
            r for r in sorted(active)
            if os.path.basename(r) in descs
        ]
        actions = list(self._remove_actions(
            {r: active[r] for r in rels}
        ))
        for rel in rels:
            new_add = dict(active[rel])
            new_add["path"] = rel
            new_add["dataChange"] = True
            new_add["deletionVector"] = descs[os.path.basename(rel)]
            actions.append({"add": new_add})
        return actions

    def _delete_mor(
        self, v: int, active: dict[str, dict], touched: list[str],
        condition, scan: DataFrame, cdc_actions: list[dict],
    ) -> int:
        """Deletion-vector delete: DV the matched positions, commit
        remove+add pairs carrying the descriptors."""
        descs = self._write_dvs(
            v, {r: active[r] for r in touched},
            scan.filter(condition),
        )
        actions = [
            self._commit_info("DELETE"),
            *self._protocol_upgrade_for_dv(v),
            *self._dv_readd_actions(active, descs),
            *cdc_actions,
        ]
        return self._commit_with_retry(
            v + 1, actions, read_version=v
        )

    def _protocol_upgrade_for_feature(
        self, version: int, feature: str
    ) -> list[dict]:
        """Protocol action (if needed) enabling a reader+writer table
        feature: reader 3 / writer 7 with explicit feature lists,
        existing obligations preserved on BOTH sides — a v7 table's
        explicit lists are carried, a legacy table's implied sets are
        materialized (single source of truth:
        ``_LEGACY_WRITER_FEATURES``; legacy minReaderVersion 2 means
        columnMapping and must surface in readerFeatures, or an
        external reader honoring the upgraded protocol would read
        physical column names as logical ones)."""
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        for a in self._actions_upto(version):
            if "protocol" in a:
                protocol = a["protocol"]
        if feature in (protocol.get("readerFeatures") or []):
            return []
        mwv = int(protocol.get("minWriterVersion", 2))
        if mwv == 7:
            legacy_writer = set(protocol.get("writerFeatures") or [])
        else:
            legacy_writer = self._LEGACY_WRITER_FEATURES.get(
                mwv, {"appendOnly", "invariants"}
            )
        reader = set(protocol.get("readerFeatures") or [])
        if int(protocol.get("minReaderVersion", 1)) == 2:
            reader.add("columnMapping")
        return [{
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(reader | {feature}),
                "writerFeatures": sorted(
                    set(legacy_writer) | {feature}
                ),
            }
        }]

    def _protocol_upgrade_for_dv(self, version: int) -> list[dict]:
        return self._protocol_upgrade_for_feature(
            version, "deletionVectors"
        )

    def _protocol_upgrade_for_writer_features(
        self, version: int, features: set[str]
    ) -> list[dict]:
        """Protocol action (if needed) enabling WRITER-ONLY table
        features (spec: clustering and domainMetadata don't gate
        readers): minWriterVersion 7 with the explicit writerFeatures
        list, the READER side left exactly as it was — forcing reader 3
        here would lock out every reader for a feature that doesn't
        concern them."""
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        for a in self._actions_upto(version):
            if "protocol" in a:
                protocol = a["protocol"]
        mwv = int(protocol.get("minWriterVersion", 2))
        if mwv == 7:
            writer = set(protocol.get("writerFeatures") or [])
        else:
            writer = set(self._LEGACY_WRITER_FEATURES.get(
                mwv, {"appendOnly", "invariants"}
            ))
        if features <= writer:
            return []
        new_protocol = dict(protocol)
        new_protocol["minWriterVersion"] = 7
        new_protocol["writerFeatures"] = sorted(writer | features)
        return [{"protocol": new_protocol}]

    # --------------------------------------------- domain metadata
    def domain_metadata(self, version: int | None = None) -> dict[str, str]:
        """Replay the spec's domainMetadata actions → {domain:
        configuration} for domains alive at ``version``. Later action
        for a domain wins; ``removed: true`` tombstones it."""
        v = self.latest_version() if version is None else version
        domains: dict[str, str] = {}
        for a in self._actions_upto(v):
            dm = a.get("domainMetadata")
            if not dm:
                continue
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration", "")
        return domains

    CLUSTERING_DOMAIN = "delta.clustering"

    def clustering_columns(self, version: int | None = None) -> list[str]:
        """Clustering columns of a clustered table (liquid clustering),
        from the ``delta.clustering`` domain metadata; [] when the
        table isn't clustered. The spec stores each column as a
        field-path array (nested struct support); this flat-schema twin
        stores single-element paths."""
        cfg = self.domain_metadata(version).get(self.CLUSTERING_DOMAIN)
        if not cfg:
            return []
        paths = json.loads(cfg).get("clusteringColumns", [])
        return [".".join(p) for p in paths]

    # --------------------------------------------------------- reads
    # Protocol levels this reader implements: 1 (plain add/remove
    # replay), 2 (column mapping, mode "name"), 3 (table features —
    # every listed reader feature must be understood). Anything
    # beyond refuses rather than return wrong rows, per the spec's
    # protocol-gating rule.

    # reader table features this reader actually implements (reader
    # version 3 gates reads on understanding every listed feature)
    _SUPPORTED_READER_FEATURES = {
        "deletionVectors", "columnMapping", "typeWidening",
        "variantType",
    }
    # reader version 2 = column mapping; implemented for mode "name"
    # (mode "id" reads parquet by field id — not implemented; such
    # tables refuse below)
    _MAX_READER_VERSION = 2

    def _check_read_protocol(self, version: int) -> None:
        protocol = None
        meta: dict = {}
        for a in self._actions_upto(version):
            if "protocol" in a:
                protocol = a["protocol"]
            elif "metaData" in a:
                meta = a["metaData"]
        if self._mapping_mode(meta) not in ("none", "name"):
            raise ValueError(
                "table uses column mapping mode "
                f"{self._mapping_mode(meta)!r}; this reader "
                "implements modes none/name only"
            )
        if protocol is None:
            return
        mrv = int(protocol.get("minReaderVersion", 1))
        if mrv == 3:
            unknown = (
                set(protocol.get("readerFeatures") or [])
                - self._SUPPORTED_READER_FEATURES
            )
            if unknown:
                raise ValueError(
                    "table requires reader features "
                    f"{sorted(unknown)} this reader does not "
                    "implement; refusing to read rather than return "
                    "wrong rows"
                )
            return
        if mrv > self._MAX_READER_VERSION:
            raise ValueError(
                f"table requires minReaderVersion {mrv} "
                f"(this reader implements {self._MAX_READER_VERSION}); "
                "refusing to read rather than return wrong rows"
            )

    # --------------------------------------- column-mapping DDL
    def enable_column_mapping(self) -> int:
        """Upgrade the table to column mapping mode ``name``: each
        field gains a mapping id and a physical name equal to its
        CURRENT name (required — existing files already store those
        names); later renames change only the logical name, and later
        adds get uuid physical names. Protocol moves to reader 2 /
        writer 5, or gains the columnMapping feature if already on
        table features (reader 3 / writer 7)."""
        v = self.latest_version()
        meta, _ = self._replay(v)
        if self._mapping_mode(meta) == "name":
            return v
        schema = json.loads(meta["schemaString"])
        for i, f in enumerate(schema["fields"], start=1):
            md = dict(f.get("metadata") or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = md
        config = dict(meta.get("configuration") or {})
        config["delta.columnMapping.mode"] = "name"
        config["delta.columnMapping.maxColumnId"] = str(
            len(schema["fields"])
        )
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        new_meta["configuration"] = config
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
        for a in self._actions_upto(v):
            if "protocol" in a:
                protocol = a["protocol"]
        if int(protocol.get("minReaderVersion", 1)) == 3:
            new_protocol = dict(protocol)
            new_protocol["readerFeatures"] = sorted(
                set(protocol.get("readerFeatures") or [])
                | {"columnMapping"}
            )
            new_protocol["writerFeatures"] = sorted(
                set(protocol.get("writerFeatures") or [])
                | {"columnMapping"}
            )
        else:
            new_protocol = {
                "minReaderVersion": 2,
                "minWriterVersion": max(
                    5, int(protocol.get("minWriterVersion", 2))
                ),
            }
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("UPGRADE"),
             {"protocol": new_protocol},
             {"metaData": new_meta}],
            read_version=v,
        )

    _TYPE_WIDENINGS = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"), ("float", "double"),
    }

    def widen_column_type(self, name: str, new_type: str) -> int:
        """The spec's typeWidening table feature: metadata-only type
        change along a lossless widening chain (byte/short/integer ->
        long, float -> double). Existing files keep their narrower
        physical parquet type and upcast at read (Spark's parquet
        reader resolves int32 under a bigint read schema natively);
        the field's ``delta.typeChanges`` metadata records the change
        history per the spec, and the protocol upgrades to explicit
        reader/writer feature lists carrying every prior obligation.
        Partition columns refuse — their hive-encoded string values
        re-parse identically, but external engines key partition
        pruning on the schema type and the spec excludes them."""
        v = self.latest_version()
        meta, _ = self._replay(v)
        schema = json.loads(meta["schemaString"])
        field = next(
            (f for f in schema["fields"] if f["name"] == name), None
        )
        if field is None:
            raise ValueError(f"no column {name!r}")
        old = field["type"]
        if (old, new_type) not in self._TYPE_WIDENINGS:
            raise ValueError(
                f"type change {old} -> {new_type} is not a spec "
                "widening (lossless chains byte->short->integer->"
                "long and float->double only)"
            )
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(
                f"{name!r} is a partition column; the typeWidening "
                "feature does not cover partition columns"
            )
        field["type"] = new_type
        fmd = dict(field.get("metadata") or {})
        fmd["delta.typeChanges"] = list(
            fmd.get("delta.typeChanges") or []
        ) + [{"fromType": old, "toType": new_type,
              "tableVersion": v + 1}]
        field["metadata"] = fmd
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("WIDEN COLUMN TYPE"),
             *self._protocol_upgrade_for_feature(v, "typeWidening"),
             {"metaData": new_meta}],
            read_version=v,
        )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only rename under column mapping (enabled
        implicitly on first use): the physical name in the data files
        never changes, so no file is touched. Partition columns
        refuse — their hive directory names would go stale."""
        self.enable_column_mapping()
        v = self.latest_version()
        meta, _ = self._replay(v)
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in (meta.get("partitionColumns") or []):
            raise ValueError(
                f"{old!r} is a partition column; renaming it would "
                "orphan the hive directory layout"
            )
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("RENAME COLUMN"),
             {"metaData": new_meta}],
            read_version=v,
        )

    def drop_column(self, name: str) -> int:
        """Metadata-only drop under column mapping: files keep the
        physical column bytes; readers stop requesting it. The mapping
        id is never reused (maxColumnId only grows)."""
        self.enable_column_mapping()
        v = self.latest_version()
        meta, _ = self._replay(v)
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the last column")
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(
                f"{name!r} is a partition column; repartition the "
                "table first"
            )
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != name
        ]
        new_meta = dict(meta)
        new_meta["schemaString"] = json.dumps(schema)
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("DROP COLUMN"),
             {"metaData": new_meta}],
            read_version=v,
        )

    def snapshot(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v < 0:
            raise ValueError(f"no delta table at {self.path}")
        self._check_read_protocol(v)
        meta, active = self._replay(v)
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        if not active:
            return self.spark.createDataFrame([], schema)
        # pin the version's OWN schema: time travel to a pre-evolution
        # version reads with the old schema; current reads surface
        # pre-evolution files' missing columns as NULL (and, under
        # column mapping, physical file names alias back to the
        # version's logical names)
        return self._scan(sorted(active), meta, active=active)

    def skipped_files(self, col: str, lo=None, hi=None,
                      version: int | None = None
                      ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for ``lo <= col <= hi`` from the commit
        log's per-file stats alone — the data-skipping decision without
        any read, inspectable for tests and EXPLAIN-style tooling."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        pcol = self._phys(meta, col)  # stats keys are physical names
        cands, skipped = [], []
        for rel in sorted(active):
            (skipped if self._stats_exclude(active[rel], pcol, lo, hi)
             else cands).append(rel)
        return cands, skipped

    # generation expressions PROVABLY monotonic in their one source
    # column — the whitelist that makes range projection sound
    # (gen(lo) <= gen(row) <= gen(hi) for row in [lo, hi]); anything
    # else (hashes, modulo, multi-source) never range-prunes
    _MONOTONIC_GEN = [
        re.compile(r"^\s*CAST\s*\(\s*(\w+)\s+AS\s+DATE\s*\)\s*$",
                   re.I),
        re.compile(
            r"^\s*date_trunc\s*\(\s*'\w+'\s*,\s*(\w+)\s*\)\s*$",
            re.I),
        re.compile(r"^\s*(?:year|month|day|hour)\s*\(\s*(\w+)\s*\)"
                   r"\s*$", re.I),
        re.compile(r"^\s*substring\s*\(\s*(\w+)\s*,\s*1\s*,\s*\d+"
                   r"\s*\)\s*$", re.I),
        re.compile(r"^\s*to_date\s*\(\s*(\w+)\s*\)\s*$", re.I),
    ]

    @staticmethod
    def _typed_partition_value(raw: str | None, dt: T.DataType):
        """Decode a partitionValues string back to the column's type
        for ORDER comparison (string compare would order '10' < '9');
        None = not comparable, never prune."""
        import datetime

        if raw is None:
            return None
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return int(raw)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(raw)
        if isinstance(dt, T.DateType):
            return datetime.date.fromisoformat(raw)
        if isinstance(dt, T.StringType):
            return raw
        return None

    def source_pruned_files_range(
        self, column: str, lo=None, hi=None,
        version: int | None = None,
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for a RANGE predicate on a SOURCE
        column, projected through generated partition columns whose
        generation expression is on the monotonic whitelist (CAST AS
        DATE, date_trunc, year/month/day/hour, prefix substring) —
        the Delta twin of the Iceberg transform range pruning. A
        partition column named directly prunes by typed value order.
        Metadata-only."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        by_name = {f.name: f for f in schema.fields}
        gens = self._generated_exprs(meta)
        want: list[tuple[str, T.DataType, object, object]] = []
        for pc in meta.get("partitionColumns") or []:
            if pc == column:
                want.append((
                    self._phys(meta, pc), by_name[pc].dataType,
                    lo, hi,
                ))
                continue
            gen = gens.get(pc)
            if not gen:
                continue
            src = None
            for pat in self._MONOTONIC_GEN:
                m = pat.match(gen)
                if m:
                    src = m.group(1)
                    break
            if src != column:
                continue

            def _g(value):
                if value is None:
                    return None
                return self.spark.createDataFrame(
                    [(value,)],
                    T.StructType([T.StructField(
                        column, by_name[column].dataType, True
                    )]),
                ).select(F.expr(gen).alias("g")).collect()[0]["g"]

            want.append((
                self._phys(meta, pc), by_name[pc].dataType,
                _g(lo), _g(hi),
            ))
        cands, skipped = [], []
        for rel in sorted(active):
            pv = active[rel].get("partitionValues") or {}
            exclude = False
            for phys, dt, glo, ghi in want:
                val = self._typed_partition_value(pv.get(phys), dt)
                if val is None:
                    continue
                if (glo is not None and val < glo) or (
                    ghi is not None and val > ghi
                ):
                    exclude = True
                    break
            (skipped if exclude else cands).append(rel)
        return cands, skipped

    def read_range(self, col: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """Stats-pruned range read: files whose [min,max] for ``col``
        cannot intersect [lo, hi] are never opened (the same skipping
        external Delta readers derive from the add actions' stats);
        survivors still get the exact filter, which Spark pushes to the
        parquet row groups. Either bound may be None (half-open).
        Generated-partition range pruning intersects in: a whitelisted
        monotonic generation expression sourced from ``col`` excludes
        whole hive directories from the log alone."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        cands, _ = self.skipped_files(col, lo, hi, version=v)
        pcands, pskip = self.source_pruned_files_range(
            col, lo, hi, version=v
        )
        if pskip:
            cands = sorted(set(cands) & set(pcands))
        if not cands:
            return self.spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(meta["schemaString"]))
            )
        df = self._scan(cands, meta, active=active)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df

    def partition_pruned_files(
        self, filters: dict, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for equality ``filters`` ({col: value})
        against each add action's partitionValues — pure log metadata,
        zero file reads, the partition pruning external Delta readers
        perform. Values compare by their spec string serialization."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        want = {
            self._phys(meta, c): (None if val is None else str(val))
            for c, val in filters.items()
        }
        cands, skipped = [], []
        for rel in sorted(active):
            pv = active[rel].get("partitionValues") or {}
            ok = all(
                c in pv and pv[c] == val for c, val in want.items()
            )
            (cands if ok else skipped).append(rel)
        return cands, skipped

    def read_partitions(
        self, filters: dict, version: int | None = None
    ) -> DataFrame:
        """Partition-pruned scan: only files whose partitionValues match
        every equality filter are opened (hive dirs under basePath
        restore the partition columns)."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        cands, _sk = self.partition_pruned_files(filters, version=v)
        if not cands:
            return self.spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(meta["schemaString"]))
            )
        return self._scan(cands, meta, active=active)

    @staticmethod
    def _part_str(val) -> str | None:
        """The spec's partitionValues string serialization of a
        driver-side literal (what hive directory decoding yields)."""
        if val is None:
            return None
        if isinstance(val, bool):
            return "true" if val else "false"
        return str(val)

    def source_pruned_files(
        self, eq_filters: dict, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(candidates, skipped) for equality predicates on SOURCE
        columns, projected through generated partition columns —
        Delta's hidden-partitioning contract (the Iceberg-transform
        twin): the query names ``ts = X``, the table is partitioned by
        ``event_date GENERATED ALWAYS AS (CAST(ts AS DATE))``, and
        pruning follows from evaluating the generation expression on
        the literal. Metadata-only; a partition column named directly
        in ``eq_filters`` prunes as in ``partition_pruned_files``.
        Sound for equality only (gen deterministic per the spec):
        row.src = X implies gen(row.src) = gen(X)."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        by_name = {f.name: f for f in schema.fields}
        gens = self._generated_exprs(meta)
        ident = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
        want: dict[str, str | None] = {}
        for pc in meta.get("partitionColumns") or []:
            if pc in eq_filters:
                want[self._phys(meta, pc)] = self._part_str(
                    eq_filters[pc]
                )
                continue
            gen = gens.get(pc)
            if not gen:
                continue
            refs = {
                tok for tok in ident.findall(gen)
                if tok in by_name and tok != pc
            }
            if len(refs) != 1:
                continue  # multi-source expression: not projectable
            (src,) = refs
            if src not in eq_filters:
                continue
            lit_row = self.spark.createDataFrame(
                [(eq_filters[src],)],
                T.StructType([T.StructField(
                    src, by_name[src].dataType, True
                )]),
            ).select(F.expr(gen).alias("g")).collect()
            want[self._phys(meta, pc)] = self._part_str(
                lit_row[0]["g"]
            )
        cands, skipped = [], []
        for rel in sorted(active):
            pv = active[rel].get("partitionValues") or {}
            ok = all(
                c in pv and pv[c] == val for c, val in want.items()
            )
            (cands if ok else skipped).append(rel)
        return cands, skipped

    def read_eq(self, version: int | None = None,
                **eq_filters) -> DataFrame:
        """Generated-partition-pruned equality read: prune through
        every projectable generation expression, then apply the
        residual source-column filter (pushed to parquet row groups
        by Spark)."""
        v = self.latest_version() if version is None else version
        meta, active = self._replay(v)
        cands, _sk = self.source_pruned_files(eq_filters, version=v)
        if not cands:
            return self.spark.createDataFrame(
                [], T.StructType.fromJson(
                    json.loads(meta["schemaString"])
                )
            )
        df = self._scan(cands, meta, active=active)
        for c, val in eq_filters.items():
            df = df.where(F.col(c).eqNullSafe(F.lit(val)))
        return df

    def timestamp_as_of(self, epoch_s: float) -> DataFrame:
        """Time travel by commit timestamp (commitInfo.timestamp, the
        same field external readers use)."""
        best = None
        for v in range(self.latest_version() + 1):
            with open(self._commit_file(v)) as f:
                first = json.loads(f.readline())
            ts = first.get("commitInfo", {}).get("timestamp", 0) / 1000.0
            if ts <= epoch_s:
                best = v
        if best is None:
            raise ValueError("no commit at or before the given timestamp")
        return self.snapshot(best)

    def history(self) -> list[dict]:
        out = []
        for v in range(self.latest_version() + 1):
            with open(self._commit_file(v)) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            info = next(
                (a["commitInfo"] for a in actions if "commitInfo" in a), {}
            )
            out.append(
                {
                    "version": v,
                    "timestamp": info.get("timestamp"),
                    "operation": info.get("operation"),
                    "n_added": sum(1 for a in actions if "add" in a),
                    "n_removed": sum(1 for a in actions if "remove" in a),
                }
            )
        return out

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF version``: commit
        a NEW version whose add/remove actions return the table to the
        state of ``version`` — history moves forward (the restored-away
        versions stay readable by time travel), data files are reused
        by reference, and only the log grows. Files present in both
        states but with a different deletion vector are re-added with
        the target's DV. The restored metaData (schema, partition
        columns, config) is committed when it differs; the protocol is
        never downgraded, per the spec.

        On a CDF table the commit carries cdc files so table_changes
        stays readable across it: live rows of removed files as
        ``delete`` changes, live rows of re-added files as ``insert``
        (a DV-changed file contributes both — file-level change
        granularity, the spec's fallback semantics). Refuses when a
        required data file was already vacuumed away. Returns the new
        version."""
        latest = self.latest_version()
        if latest < 0:
            raise ValueError(f"no delta table at {self.path}")
        if not 0 <= version <= latest:
            raise ValueError(
                f"version {version} outside [0, {latest}]"
            )
        if version == latest:
            return latest
        tgt_meta, tgt_active = self._replay(version)
        cur_meta, cur_active = self._replay(latest)

        def _dv(a: dict) -> str:
            return json.dumps(
                a.get("deletionVector"), sort_keys=True
            )

        removed = {
            rel: a for rel, a in cur_active.items()
            if rel not in tgt_active
            or _dv(tgt_active[rel]) != _dv(a)
        }
        readded = {
            rel: a for rel, a in tgt_active.items()
            if rel not in cur_active
            or _dv(cur_active[rel]) != _dv(a)
        }
        missing = [
            rel for rel in sorted(readded)
            if not os.path.exists(os.path.join(self.path, rel))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: its data "
                f"files were removed by vacuum/cleanup: {missing[:3]}"
            )
        now_ms = int(time.time() * 1000)
        info = self._commit_info("RESTORE")
        info["commitInfo"]["operationParameters"] = {
            "version": str(version)
        }
        actions: list[dict] = [info]
        if tgt_meta != cur_meta:
            actions.append({"metaData": tgt_meta})
        for rel in sorted(removed):
            actions.append({
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            })
        for rel in sorted(readded):
            a = dict(readded[rel])
            a["dataChange"] = True
            a["modificationTime"] = now_ms
            actions.append({"add": a})
        if self.cdf_enabled(latest) and (removed or readded):
            frames = []
            if removed:
                frames.append(
                    self._scan(
                        sorted(removed), cur_meta, active=cur_active
                    ).withColumn("_change_type", F.lit("delete"))
                )
            if readded:
                frames.append(
                    self._scan(
                        sorted(readded), tgt_meta, active=tgt_active
                    ).withColumn("_change_type", F.lit("insert"))
                )
            tgt_fields = T.StructType.fromJson(
                json.loads(tgt_meta["schemaString"])
            ).fields
            aligned = [
                fr.select(
                    *[
                        (F.col(f.name) if f.name in fr.columns
                         else F.lit(None).cast(f.dataType))
                        .alias(f.name)
                        for f in tgt_fields
                    ],
                    F.col("_change_type"),
                )
                for fr in frames
            ]
            changes = aligned[0]
            for fr in aligned[1:]:
                changes = changes.unionByName(fr)
            actions += self._write_cdc_files(changes, meta=tgt_meta)
        return self._commit_with_retry(
            latest + 1, actions, read_version=latest
        )

    # bucket resolution per z-order column: 256 range buckets = 8 bits
    _ZORDER_BITS = 8

    def _zorder_frame(self, df: DataFrame, cols: list[str],
                      target_files: int) -> DataFrame:
        """Order ``df`` along the Z-curve over ``cols`` and range-split
        it into ``target_files`` partitions (one output file each).

        Per-column bucket ids come from the range-partition-id trick
        (repartitionByRange + spark_partition_id — the same distributed
        construction as operators/advanced.global_ntile): partition ids
        are monotone in the column under RangePartitioner, giving each
        row a 0..255 rank bucket with one shuffle per column and no
        global window. Bucket bits are then interleaved JVM-side into
        the z-value. Cost: len(cols)+1 shuffles of the compacted data —
        maintenance-op economics, exactly like Delta's OPTIMIZE ZORDER."""
        from ..operators.layout import zorder_frame

        return zorder_frame(
            df, cols, target_files, bits=self._ZORDER_BITS
        )

    def compact(self, target_files: int = 1,
                zorder_by: list[str] | None = None,
                cluster_by: list[str] | None = None) -> int:
        """Bin-pack the active files into ``target_files`` rewritten
        files (Delta OPTIMIZE): the commit's remove/add actions carry
        ``dataChange: false`` — the spec's signal that the table's
        CONTENT is unchanged, so streaming readers of the log skip the
        rewrite instead of reprocessing it. The small-files problem is
        the steady-state failure mode of streaming ingest into a table;
        periodic compaction keeps the file count (and scan task count)
        bounded.

        ``zorder_by`` additionally clusters the rewrite along the
        Z-curve over those columns (OPTIMIZE ZORDER BY): each output
        file then covers a tight min/max range on EVERY listed column,
        so the per-file stats prune range reads on any of them — the
        multi-dimensional complement of the one-column locality a plain
        range sort gives.

        ``cluster_by`` instead marks the table CLUSTERED (the spec's
        clustered-table / liquid-clustering feature) and rewrites along
        the HILBERT curve over exactly two columns: same
        any-column pruning as z-order with tighter average bounding
        boxes (consecutive Hilbert indexes are always grid neighbors).
        The commit upgrades the protocol with the WRITER-ONLY
        ``clustering`` + ``domainMetadata`` features (readers are not
        gated) and records the columns in ``delta.clustering`` domain
        metadata, so later OPTIMIZE calls — and other writers — know
        the table's clustering intent."""
        if zorder_by and cluster_by:
            raise ValueError("zorder_by and cluster_by are exclusive")
        v = self.latest_version()
        _, active = self._replay(v)
        if (zorder_by is None and cluster_by is None
                and len(active) <= target_files):
            return v
        extra: list[dict] = []
        # row tracking survives OPTIMIZE by materializing the
        # effective lineage columns into the rewritten files
        # (dataChange=false must not change row identity)
        src = (
            self.snapshot_row_tracking(v)
            if self._row_id_hwm(v) is not None
            else self.snapshot(v)
        )
        if cluster_by:
            from ..operators.layout import hilbert_frame

            df = hilbert_frame(
                src, list(cluster_by), target_files,
                bits=self._ZORDER_BITS,
            )
            extra.extend(self._protocol_upgrade_for_writer_features(
                v, {"clustering", "domainMetadata"}
            ))
            cfg = json.dumps(
                {"clusteringColumns": [[c] for c in cluster_by]},
                separators=(",", ":"),
            )
            if self.clustering_columns(v) != list(cluster_by):
                extra.append({"domainMetadata": {
                    "domain": self.CLUSTERING_DOMAIN,
                    "configuration": cfg,
                    "removed": False,
                }})
        elif zorder_by:
            df = self._zorder_frame(src, list(zorder_by),
                                    target_files)
        else:
            df = src.coalesce(target_files)
        staging_adds = self._write_data_files(df)
        for a in staging_adds:
            a["add"]["dataChange"] = False
        removes = self._remove_actions(active)
        for r in removes:
            r["remove"]["dataChange"] = False
        return self._commit_with_retry(
            v + 1,
            [self._commit_info("OPTIMIZE"), *extra, *removes,
             *staging_adds],
            read_version=v,
        )

    def diff_versions(
        self, v_from: int, v_to: int, key: str | None = None
    ) -> DataFrame:
        """Change data feed between two versions, derived by keyed
        snapshot comparison (the log-replay reader gives both sides):
        one row per changed key with ``_change_type`` in insert /
        update_postimage / delete — the consumable shape of Delta's CDF
        for downstream incremental consumers (e.g. the IVM fold).

        Cost: one full-outer join of the two snapshots on ``key``. For
        narrow version ranges an add/remove-action diff would read
        less; snapshot comparison is exact under every writer path —
        including compaction, which changes files but not rows (such
        keys compare equal and are excluded)."""
        key = key or self.key
        if not key:
            raise ValueError("diff_versions needs a key column")
        a, b = self.snapshot(v_from), self.snapshot(v_to)
        cols = list(b.columns)
        a_s = a.select(F.col(key).alias("_k"),
                       F.struct(*a.columns).alias("_a"))
        b_s = b.select(F.col(key).alias("_k"),
                       F.struct(*b.columns).alias("_b"))
        j = a_s.join(b_s, "_k", "full_outer")
        changed = j.where(
            F.col("_a").isNull() | F.col("_b").isNull()
            | (F.col("_a") != F.col("_b"))
        )
        side = F.when(F.col("_b").isNull(),
                      F.col("_a")).otherwise(F.col("_b"))
        ctype = (
            F.when(F.col("_a").isNull(), F.lit("insert"))
            .when(F.col("_b").isNull(), F.lit("delete"))
            .otherwise(F.lit("update_postimage"))
        )
        return changed.select(
            *[side[c].alias(c) for c in cols],
            ctype.alias("_change_type"),
        )

    def table_metrics(self, version: int | None = None) -> dict:
        """Operational health from the LOG alone (zero file reads):
        file count, bytes, row count (from per-add stats), small-file
        share — what a compaction policy consumes to decide when
        OPTIMIZE pays."""
        v = self.latest_version() if version is None else version
        _, active = self._replay(v)
        sizes = [a.get("size", 0) for a in active.values()]
        rows = 0
        for a in active.values():
            st = self._file_stats(a)
            if st and "numRecords" in st:
                rows += int(st["numRecords"])
            # stats count physical rows; DV'd rows are logically gone
            dv = a.get("deletionVector")
            if dv:
                rows -= int(dv.get("cardinality", 0))
        small = sum(1 for s in sizes if s < 32 * 1024 * 1024)
        return {
            "version": v,
            "n_files": len(sizes),
            "total_bytes": sum(sizes),
            "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
            "n_rows": rows,
            "small_file_ratio": (
                round(small / len(sizes), 4) if sizes else 0.0
            ),
        }

    def vacuum(self, staging_ttl_s: float = 3600.0) -> list[str]:
        """Delete data files no longer referenced by the LATEST version
        (earlier versions become unreadable — standard Delta vacuum
        semantics, retention fixed at zero here for test determinism).
        Covers hive partition directories, and additionally sweeps
        ORPHANED staging dirs left by crashed writers — age-gated by
        ``staging_ttl_s`` so a concurrent writer's live stage survives.
        ``_delta_log`` (see cleanup_log) and ``_change_data`` (CDF
        readers reference change files by commit, not by the active
        set) are never touched."""
        from fda_clinical_etl_pipeline_spark.sources.delta_dv import (
            dv_file_of,
        )

        _, active = self._replay(self.latest_version())
        live_dvs = set()
        for add in active.values():
            dv = add.get("deletionVector")
            if dv:
                p = dv_file_of(self.path, dv)
                if p:
                    live_dvs.add(os.path.normpath(p))
        deleted = []
        for root, dirs, files in os.walk(self.path):
            rel_root = os.path.relpath(root, self.path)
            top = rel_root.split(os.sep)[0]
            if top in ("_delta_log", "_change_data", ".staging"):
                dirs[:] = []
                continue
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.normpath(
                    os.path.join(rel_root, fn)
                ).replace(os.sep, "/")
                if fn.endswith(".parquet"):
                    if rel not in active:
                        os.remove(full)
                        deleted.append(rel)
                elif (fn.startswith("deletion_vector_")
                        and fn.endswith(".bin")):
                    # DV files superseded in the latest version (their
                    # add was rewritten or re-DV'd) are orphans, same
                    # retention-zero semantics as data files
                    if os.path.normpath(full) not in live_dvs:
                        os.remove(full)
                        deleted.append(rel)
        st = os.path.join(self.path, ".staging")
        if os.path.isdir(st):
            now = time.time()
            for d in os.listdir(st):
                p = os.path.join(st, d)
                if (os.path.isdir(p)
                        and now - os.path.getmtime(p) > staging_ttl_s):
                    shutil.rmtree(p, ignore_errors=True)
                    deleted.append(f".staging/{d}")
        return sorted(deleted)


def attach_stored_row_ids(
    merged: DataFrame, stored: DataFrame, key: str, precombine: str,
    rid_col: str = "_row_id",
) -> DataFrame:
    """The shared row-identity merge rule (Delta Row Tracking and
    Iceberg v3 Row Lineage state it identically): a row that REPLACES
    a stored key keeps that key's row id — taken from the stored copy
    with the greatest precombine, the one being updated; fresh keys
    stay NULL and inherit at commit. One aggregation + join over the
    TOUCHED files only."""
    rid_map = stored.groupBy(key).agg(
        F.max_by(rid_col, precombine).alias("__srid")
    )
    return (
        merged.join(rid_map, key, "left")
        .withColumn(
            rid_col, F.coalesce(F.col(rid_col), F.col("__srid"))
        )
        .drop("__srid")
    )


def precombine_latest(df: DataFrame, key: str, precombine: str) -> DataFrame:
    """One row per key: greatest precombine value wins (Hudi precombine
    semantics, ties broken deterministically by last-in-batch)."""
    w = Window.partitionBy(key).orderBy(F.col(precombine).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_precombine(
    current: DataFrame, incoming: DataFrame, key: str, precombine: str
) -> DataFrame:
    """Upsert merge: per key keep the greatest precombine value; on a
    precombine TIE the incoming row wins (Hudi's combine-and-get-update
    default)."""
    tagged = current.withColumn("_src", F.lit(0)).unionByName(
        incoming.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(
        F.col(precombine).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )

