"""Writers — the engine's sink operators (SURVEY.md §2.2, K1–K9).

The reference writes with Python file handles (csv.writer, json.dumps
per line, joined HL7 text) one file per batch. The engine writes
DataFrames; every sink below is distributed and schema-stable. Zones are
directory prefixes exactly like the reference's lake tiers
(raw → curated → qlm_ready), SURVEY.md §1.1.

Scale notes: writes inherit the upstream partitioning — a scrub/transform
plan is narrow, so writing N input splits produces N files with no
shuffle. No ``coalesce(1)`` anywhere; small files are handled by
compaction instead.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K5 — canonical artifact writer (etl/transform.py:30-43; the CSV
    fallback is unnecessary: parquet write failures in Spark are real
    errors, not soft conditions)."""
    df.write.mode(mode).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2 — curated CSV with header (etl/scrub_phi.py:86-125)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3 — one JSON object per line (etl/scrub_phi.py:149-188). A
    ``_corrupt_record`` column, if present, is passed through verbatim as
    the whole line (the reference writes invalid input lines unchanged,
    etl/scrub_phi.py:155-160)."""
    if "_corrupt_record" in df.columns:
        data_cols = [c for c in df.columns if not c.startswith("_")]
        line = F.when(
            F.col("_corrupt_record").isNotNull(), F.col("_corrupt_record")
        ).otherwise(F.to_json(F.struct(*[F.col(c) for c in data_cols])))
        df.select(line.alias("value")).write.mode(mode).text(path)
    else:
        df.write.mode(mode).json(path)


def write_hl7(df: DataFrame, path: str, message_col: str = "message",
              mode: str = "overwrite") -> None:
    """K4 — HL7 text: segments re-joined with '\\n', messages separated by
    blank lines (etl/scrub_phi.py:270). Expects one message per row."""
    out = df.select(
        F.concat(F.col(message_col), F.lit("\n")).alias("value")
    )
    out.write.mode(mode).option("lineSep", "\n").text(path)


def write_versioned_artifact(
    df: DataFrame, base_dir: str, source_name: str, batch_id: str, utc_ts: str
) -> str:
    """K6 — qlm_ready/<source>/<UTC ts>/<batch_id>.parquet
    (etl/transform.py:143-156). Returns the artifact path."""
    path = os.path.join(base_dir, source_name, utc_ts, batch_id)
    write_parquet(df, path)
    return path


def quarantine_write(df: DataFrame, base_dir: str, source_name: str,
                     batch_id: str) -> str:
    """K9 — row-level quarantine (improves on the reference's file-level
    move, etl/validate.py:216-223): violating rows land with their
    ``_errors`` detail next to the data."""
    path = os.path.join(base_dir, source_name, batch_id)
    df.withColumn("_errors", F.to_json("_errors")).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append",
    batchsize: int = 10_000, **options: str,
) -> None:
    """K8 — JDBC append sink (the reference's provenance/audit INSERTs,
    etl/provenance_recorder.py:9-65). Executed live against the Derby
    embedded DB bundled with pyspark (tests/test_jdbc.py); ``batchsize``
    is the throughput knob — per-row INSERTs (the reference's pattern)
    are ~100× slower."""
    writer = (
        df.write.format("jdbc").option("url", url).option("dbtable", table)
        .option("batchsize", str(batchsize)).mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def sha256_file(path: str, chunk: int = 8192) -> str:
    """A7 — byte-exact file digest (etl/ingest.py:18-25: 8KB streaming
    chunks). Driver-side by design: exact-bytes semantics. The distributed
    twin for row-level integrity is hash_row_integrity / row_hash_agg."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def row_hash_agg(df: DataFrame) -> str:
    """Order-insensitive, multiset-sensitive content digest of a
    DataFrame: sha2 per row over all columns, the full 64-bit prefix
    summed in decimal(38,0) (partial aggregation per partition, no
    overflow below ~5e18 rows) and reduced mod 2^64, plus the row count —
    the 100 TB replacement for file-level SHA-256 (SURVEY.md §4.4).

    Sum (not XOR) combining: with XOR any row occurring an even number
    of times cancels out, so datasets differing by duplicated/removed
    row *pairs* collide. The modular sum is sensitive to multiplicity;
    the appended count catches uniform-shift edge cases. Returns
    24 hex digits: 16 (sum mod 2^64) + 8 (count mod 2^32)."""
    row_sha = F.sha2(
        F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in df.columns
        ]),
        256,
    )
    # full 64-bit prefix via two conv() calls (conv caps at signed-long
    # precision, so split 60 + 4 bits and recombine in decimal)
    hi60 = F.conv(F.substring(row_sha, 1, 15), 16, 10).cast("decimal(38,0)")
    lo4 = F.conv(F.substring(row_sha, 16, 1), 16, 10).cast("decimal(38,0)")
    hashed = df.select((hi60 * 16 + lo4).alias("h"))
    row = hashed.agg(
        F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (format(int(row["s"]) % (1 << 64), "016x")
            + format(int(row["n"]) % (1 << 32), "08x"))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — Spark-native, same distributed-write semantics as the
    parquet sink (K5); for estates standardized on ORC."""
    df.write.mode(mode).orc(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink via the native Spark 4 xml source — one file per
    partition, elements under ``root_tag``/``row_tag``."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )
