"""The provenance write path: every event is one parquet file written on
the driver (no Spark job) and renamed into place. These tests pin what
readers rely on: the schema Spark reads back, interoperation with files
an older Spark-job writer left in the same table, timestamp precision,
invisibility of unfinished files, and transition checks that see other
writers."""

from __future__ import annotations

import calendar
import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark.plans.provenance import (
    AUDIT_SCHEMA,
    BATCH_SCHEMA,
    RULE_SCHEMA,
    STEP_SCHEMA,
    ProvenanceStore,
)

T0 = datetime.datetime(2026, 3, 14, 15, 9, 26, 535897)

# one event per table, in its DDL column order
EVENTS = {
    "provenance_batch": (
        [("b1", "src", "INGESTED", "/raw/f", "sha", None, None, None,
          None, None, T0, 1)],
        BATCH_SCHEMA,
    ),
    "provenance_steps": ([("b1", "INGEST", T0, "{}")], STEP_SCHEMA),
    "provenance_rules_applied": (
        [("b1", "PHI_EMAIL", "email", 3, T0)], RULE_SCHEMA,
    ),
    "audit_log": (
        [("runner", "START", "b1", "", "INFO", T0)], AUDIT_SCHEMA,
    ),
}


def _spark_append(spark, root, rows, table, schema):
    """The writer the store used before: one Spark write job per event,
    partitioned by the event month."""
    df = spark.createDataFrame(rows, schema)
    df = df.withColumn(
        "p_month", F.date_format(ProvenanceStore._TIME_COL[table], "yyyy-MM")
    )
    df.write.mode("append").partitionBy("p_month").parquet(
        os.path.join(root, table)
    )


def _micros(ts: datetime.datetime) -> int:
    return calendar.timegm(ts.utctimetuple()) * 10**6 + ts.microsecond


@pytest.mark.parametrize("table", sorted(EVENTS))
def test_schema_read_back_matches_spark_writer(spark, tmp_path, table):
    rows, schema = EVENTS[table]
    ProvenanceStore(spark, str(tmp_path / "new"))._append(rows, table, schema)
    _spark_append(spark, str(tmp_path / "old"), rows, table, schema)
    new = spark.read.parquet(str(tmp_path / "new" / table)).schema
    old = spark.read.parquet(str(tmp_path / "old" / table)).schema
    assert new.simpleString() == old.simpleString()
    kinds = {f.dataType.simpleString() for f in new.fields}
    assert kinds <= {"string", "bigint", "timestamp"}
    assert "timestamp" in kinds
    # one file per event, under the month of the event time
    files = glob.glob(str(tmp_path / "new" / table / "*" / "*"))
    assert [os.path.relpath(f, str(tmp_path / "new" / table)).split(os.sep)[0]
            for f in files] == ["p_month=2026-03"]
    assert files[0].endswith(".c000.snappy.parquet")


def test_mixed_writers_read_and_compact(spark, tmp_path):
    root = str(tmp_path / "p")
    s = ProvenanceStore(spark, root)
    later = T0 + datetime.timedelta(seconds=1)
    # history written by the Spark-job writer ...
    _spark_append(spark, root, [
        ("b1", "src", "INGESTED", "/raw/1", "sha1", None, None, None, None,
         None, T0, 1),
        ("b2", "src", "INGESTED", "/raw/2", "sha2", None, None, None, None,
         None, T0, 2),
    ], "provenance_batch", BATCH_SCHEMA)
    _spark_append(spark, root, [("b1", "INGEST", T0, "{}")],
                  "provenance_steps", STEP_SCHEMA)
    # ... continued by the driver writer
    s.update_status("b1", "VALIDATED", total_rows=5)
    s.record_step("b1", "VALIDATION_PASSED", {"total_rows": 5})
    s._append([("b2", "src", "FAILED_VALIDATION", None, None, None, None,
                None, 3, "3 invalid rows", later, 3)],
              "provenance_batch", BATCH_SCHEMA)

    def state():
        cur = {r["batch_id"]: r.asDict() for r in s.batches().collect()}
        return (
            {b: (r["status"], r["raw_file_path"], r["total_rows"])
             for b, r in cur.items()},
            [r["step_name"] for r in s.steps("b1").collect()],
        )

    expected = (
        {"b1": ("VALIDATED", "/raw/1", 5),
         "b2": ("FAILED_VALIDATION", "/raw/2", 3)},
        ["INGEST", "VALIDATION_PASSED"],
    )
    assert state() == expected
    s.compact()
    assert state() == expected
    # the compacted table keeps taking driver appends
    s.update_status("b1", "SCRUBBED")
    assert state()[0]["b1"][0] == "SCRUBBED"


def test_timestamps_round_trip_to_the_microsecond(spark, tmp_path):
    s = ProvenanceStore(spark, str(tmp_path / "p"))
    rows, schema = EVENTS["provenance_batch"]
    s._append(rows, "provenance_batch", schema)
    got = s.batches().select(F.unix_micros("updated_at").alias("us"))
    assert got.collect()[0]["us"] == _micros(T0)


def test_append_starts_no_spark_job(spark, tmp_path):
    s = ProvenanceStore(spark, str(tmp_path / "p"))
    sc = spark.sparkContext
    group = f"provenance-append-{os.getpid()}"
    sc.setJobGroup(group, "provenance append")
    try:
        s.register_batch("b1", "src", "/raw/f", "sha")
        s.record_step("b1", "INGEST", {})
        s.record_rules("b1", [("PHI_SSN", "ssn", 1), ("PHI_EMAIL", "e", 2)])
        s.write_audit("runner", "START", "b1")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []


def test_rules_of_one_batch_are_one_file(spark, tmp_path):
    s = ProvenanceStore(spark, str(tmp_path / "p"))
    s.record_rules("b1", [("PHI_SSN", "ssn", 1), ("PHI_EMAIL", "email", 2)])
    files = glob.glob(str(tmp_path / "p" / "provenance_rules_applied"
                          / "*" / "*.parquet"))
    assert len(files) == 1
    got = [(r["rule_id"], r["hits"]) for r in s.rules_applied("b1").collect()]
    assert got == [("PHI_EMAIL", 2), ("PHI_SSN", 1)]


def test_unfinished_file_is_invisible(spark, tmp_path):
    s = ProvenanceStore(spark, str(tmp_path / "p"))
    s.register_batch("b1", "src", "/raw/f", "sha")
    month_dir = glob.glob(str(tmp_path / "p" / "provenance_batch" / "*"))[0]
    # what a writer interrupted between write and rename leaves behind
    with open(os.path.join(month_dir, ".part-x.c000.snappy.parquet.tmp"),
              "wb") as f:
        f.write(b"PAR1 truncated")
    assert [r["batch_id"] for r in s.batches().collect()] == ["b1"]
    s.update_status("b1", "VALIDATED")
    assert s.batches().collect()[0]["status"] == "VALIDATED"


def test_transition_check_sees_another_writer(spark, tmp_path):
    root = str(tmp_path / "p")
    first, second = ProvenanceStore(spark, root), ProvenanceStore(spark, root)
    first.register_batch("b1", "src", "/raw/f", "sha")
    first.update_status("b1", "VALIDATED")
    second.update_status("b1", "SCRUBBED")
    second.update_status("b1", "COMPLETED")
    # legal after first's own last write, illegal after second's
    first.update_status("b1", "VALIDATED")
    audits = first.recent_audit(10).filter(
        F.col("action") == "INVALID_TRANSITION"
    ).collect()
    assert [a["details"] for a in audits] == ["COMPLETED -> VALIDATED"]
