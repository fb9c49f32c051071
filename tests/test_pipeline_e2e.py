"""End-to-end clinical pipeline test (SURVEY.md §5.2): fixture files per
FIXTURES.md → ingest → validate → scrub → canonicalize → versioned
publish, asserting status transitions, quarantine behavior, provenance
rows, and zero PHI patterns post-scrub."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark.catalog import Catalog
from fda_clinical_etl_pipeline_spark.functions.scrub import DEFAULT_PHI_RULES
from fda_clinical_etl_pipeline_spark.pipeline import ClinicalPipeline, Zones

CSV_GOOD = """patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes
P10042,Maria Gonzalez,523-41-7788,1967-04-12,2025-02-03,Hypertension,Patient Maria Gonzalez attended. Contact: 555-214-7788
P10043,John Smith,111-22-3333,1970-01-01,2025-02-04,Flu,Email john.smith@host.org about follow-up
"""

CSV_BAD = """patient_id,patient_name,ssn,dob,visit_date,diagnosis,notes
,Anna Lee,222-33-4444,not-a-date,2025-02-05,Cold,note one
P10044,Bob Roy,333-44-5555,1980-05-05,2025-02-06,Cough,note two
"""

JSONL_GOOD = (
    '{"id": "C20017", "name": "Rajesh Kumar", "date_of_birth": "1981-09-22",'
    ' "encounter": "2025-02-05", "icd": "J10",'
    ' "free_text": "Complained of cough. Email: rajesh.kumar@clinic.org"}\n'
    "\n"
    '{"id": "C20018", "name": "Li Wei", "date_of_birth": "1990-03-14",'
    ' "encounter": "2025-02-06", "icd": "E11", "free_text": "Routine check"}\n'
)

HL7_GOOD = (
    "MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201000137||ORU^R01|MSG30138|P|2.3\n"
    'PID|1||30138||"Emily Clark"||19770318|M|||742 Evergreen Terrace|||||414-52-9061\n'
    "OBR|1||1137|TEST^TESTNAME\n"
    "OBX|1|ST|RESULT||142|units||N\n"
    "\n"
    "MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201000138||ORU^R01|MSG30139|P|2.3\n"
    'PID|1||30139||"Raj Patel"||19810922|M|||10 Main St||||||515-62-1234||\n'
    "OBR|1||1138|TEST^TESTNAME\n"
    "OBX|1|ST|RESULT||99|units||N\n"
)

HL7_BAD = (
    "MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|20250201000139||ORU^R01|MSG30140|P|2.3\n"
    "OBR|1||1139|TEST^TESTNAME\n"
    "OBX|1|ST|RESULT||7|units||N\n"
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    return ClinicalPipeline(spark, Zones(str(tmp_path / "lake")), Catalog())


def _write(tmp_path, name: str, content: str) -> str:
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_csv_happy_path(pipeline, spark, tmp_path):
    f = _write(tmp_path, "2025-02-03_clinical.csv", CSV_GOOD)
    result = pipeline.run_batch("hospital_a", f)
    assert result["status"] == "COMPLETED"
    assert result["rows"] == 2

    cur = pipeline.prov.batches().filter(
        F.col("batch_id") == result["batch_id"]
    ).collect()[0]
    assert cur["status"] == "COMPLETED"
    assert cur["total_rows"] == 2
    assert cur["raw_sha256"] and cur["version_path"]

    steps = [
        r["step_name"]
        for r in pipeline.prov.steps(result["batch_id"]).collect()
    ]
    assert steps == ["INGEST", "VALIDATION_PASSED", "SCRUB_PHI", "TRANSFORM"]

    # canonical output: no PHI regex pattern survives in any column
    out = spark.read.parquet(cur["version_path"])
    assert set(out.columns) == {
        "patient_id", "patient_name", "dob", "visit_date", "diagnosis",
        "note_text", "address", "ssn", "source",
    }
    rows = out.collect()
    blob = " ".join(
        str(v) for r in rows for v in r.asDict().values() if v is not None
    )
    for rule in DEFAULT_PHI_RULES:
        if rule.rule_id in ("PHI_DATE_ISO",):
            continue  # visit_date is not PHI in hospital_a metadata
        assert not re.search(rule.pattern, blob.replace("[REDACTED_DATE]", "")), (
            f"{rule.rule_id} pattern survived scrub: {blob[:200]}"
        )
    # PHI columns replaced by plan-time tokens
    assert {r["patient_name"] for r in rows} == {"[REDACTED_NAME]"}
    # hospital_a's canonical mapping carries no ssn column
    # (etl/transform.py:46-60) — conform fills NULL; the scrubbed ssn
    # token lives in the curated zone only.
    assert {r["ssn"] for r in rows} == {None}
    assert {r["dob"] for r in rows} == {"[REDACTED_DATE]"}
    # notes keep structure but free-text PHI is redacted by the rule chain
    notes = " ".join(r["note_text"] for r in rows)
    assert "[REDACTED" in notes
    assert "555-214-7788" not in notes
    assert "john.smith@host.org" not in notes


def test_csv_validation_failure_quarantines(pipeline, spark, tmp_path):
    f = _write(tmp_path, "bad.csv", CSV_BAD)
    result = pipeline.run_batch("hospital_a", f)
    assert result["status"] == "FAILED_VALIDATION"

    cur = pipeline.prov.batches().filter(
        F.col("batch_id") == result["batch_id"]
    ).collect()[0]
    assert cur["status"] == "FAILED_VALIDATION"
    assert "invalid rows" in cur["error_details"]

    q = spark.read.parquet(
        f"{pipeline.zones.quarantine}/hospital_a/{result['batch_id']}"
    )
    errs = q.select("_errors").collect()
    assert len(errs) == 1  # row-level: only the bad row is quarantined
    assert "null_not_allowed:patient_id" in errs[0]["_errors"]
    assert "type_mismatch(date):dob" in errs[0]["_errors"]

    assert pipeline.prov.failed().count() == 1


def test_jsonl_pipeline(pipeline, spark, tmp_path):
    f = _write(tmp_path, "clinic.jsonl", JSONL_GOOD)
    result = pipeline.run_batch("clinic_b", f)
    assert result["status"] == "COMPLETED"
    assert result["rows"] == 2  # blank line skipped by the jsonl source

    cur = pipeline.prov.batches().filter(
        F.col("batch_id") == result["batch_id"]
    ).collect()[0]
    out = spark.read.parquet(cur["version_path"])
    rows = {r["patient_id"]: r for r in out.collect()}
    assert set(rows) == {"C20017", "C20018"}
    assert rows["C20017"]["source"] == "clinic_b"
    assert rows["C20017"]["patient_name"] == "[REDACTED_NAME]"
    assert "rajesh.kumar@clinic.org" not in (rows["C20017"]["note_text"] or "")


def test_hl7_pipeline(pipeline, spark, tmp_path):
    f = _write(tmp_path, "hosp_c.hl7", HL7_GOOD)
    result = pipeline.run_batch("hospital_c_hl7", f)
    assert result["status"] == "COMPLETED"
    assert result["rows"] == 2

    cur = pipeline.prov.batches().filter(
        F.col("batch_id") == result["batch_id"]
    ).collect()[0]
    out = spark.read.parquet(cur["version_path"]).collect()
    by_id = {r["patient_id"]: r for r in out}
    assert set(by_id) == {"30138", "30139"}
    # PID-5 (patient name, is_phi) — column-level token redaction: a
    # digit-free name matches no regex rule, so only the positional
    # rewrite keeps it out of curated/qlm_ready (reference scrub_hl7
    # token, etl/scrub_phi.py:237-239).
    assert by_id["30138"]["patient_name"] == "[REDACTED_NAME]"
    assert by_id["30139"]["patient_name"] == "[REDACTED_NAME]"
    # PID-7 (dob) redacted by PHI_DATE_YYYYMMDD during segment scrub
    assert by_id["30138"]["dob"] == "[REDACTED_DATE]"
    # Scrub runs before canonicalize, so the 16/17/19 SSN coalesce sees
    # redaction tokens, never raw SSNs (msg 1: PID-16; msg 2: PID-17).
    assert by_id["30138"]["ssn"] == "[REDACTED_SSN]"
    assert by_id["30139"]["ssn"] == "[REDACTED_SSN]"
    assert by_id["30138"]["address"] == "[REDACTED_ADDRESS]"
    # OBX note text survives
    assert "RESULT" in by_id["30138"]["note_text"]
    # column-level and regex rule hits are recorded together, in one
    # provenance append
    fired = {r["rule_id"]
             for r in pipeline.prov.rules_applied(result["batch_id"]).collect()}
    assert {"PHI_COLUMN_REDACT_NAME", "PHI_SSN"} <= fired
    assert len(glob.glob(os.path.join(
        pipeline.zones.provenance, "provenance_rules_applied", "*",
        "*.parquet",
    ))) == 1


def test_hl7_missing_pid_quarantined(pipeline, spark, tmp_path):
    f = _write(tmp_path, "bad.hl7", HL7_BAD)
    result = pipeline.run_batch("hospital_c_hl7", f)
    assert result["status"] == "FAILED_VALIDATION"
    q = spark.read.parquet(
        f"{pipeline.zones.quarantine}/hospital_c_hl7/{result['batch_id']}"
    )
    assert "missing_segment:PID" in q.collect()[0]["_errors"]


def test_rules_applied_recorded(pipeline, spark, tmp_path):
    f = _write(tmp_path, "2025-02-03_clinical.csv", CSV_GOOD)
    result = pipeline.run_batch("hospital_a", f)
    rules = pipeline.prov.rules_applied(result["batch_id"]).collect()
    fired = {r["rule_id"] for r in rules}
    assert "PHI_PHONE" in fired or "PHI_ADDRESS_SIMPLE" in fired
    assert "PHI_EMAIL" in fired
    assert all(r["hits"] > 0 for r in rules)
    # every fired rule of the batch lands in one provenance append
    assert len(glob.glob(os.path.join(
        pipeline.zones.provenance, "provenance_rules_applied", "*",
        "*.parquet",
    ))) == 1


def test_resume_pending_from_each_status(pipeline, spark, tmp_path):
    """Crash-recovery: batches stranded mid-pipeline complete on resume."""
    f = _write(tmp_path, "r.csv", CSV_GOOD)
    src = pipeline.catalog.source("hospital_a")

    # batch A stranded after ingest (INGESTED)
    bid_a = pipeline.ingest_file(src, f)
    # batch B stranded after scrub (SCRUBBED)
    bid_b = pipeline.ingest_file(src, f)
    raw = f"{pipeline.zones.raw}/hospital_a/r.csv"
    valid = pipeline.validate_batch(src, bid_b, raw)
    pipeline.scrub_batch(src, bid_b, valid)

    statuses = {
        r["batch_id"]: r["status"] for r in pipeline.prov.batches().collect()
    }
    assert statuses[bid_a] == "INGESTED" and statuses[bid_b] == "SCRUBBED"

    results = {r["batch_id"]: r for r in pipeline.resume_pending()}
    assert results[bid_a]["status"] == "COMPLETED"
    assert results[bid_b]["status"] == "COMPLETED"
    after = {
        r["batch_id"]: r for r in pipeline.prov.batches().collect()
    }
    assert after[bid_a]["status"] == "COMPLETED"
    assert after[bid_b]["status"] == "COMPLETED"
    assert after[bid_b]["version_path"]
    # nothing left pending
    assert pipeline.resume_pending() == []


def test_illegal_transition_audited(pipeline, spark, tmp_path):
    """COMPLETED -> VALIDATED is appended (the event log records what
    happened) but flagged: an audit WARNING and a transition_violations
    row — never silent."""
    f = _write(tmp_path, "t.csv", CSV_GOOD)
    result = pipeline.run_batch("hospital_a", f)
    bid = result["batch_id"]
    pipeline.prov.update_status(bid, "VALIDATED")  # illegal resurrection
    audits = pipeline.prov.recent_audit(10).filter(
        (F.col("action") == "INVALID_TRANSITION") & (F.col("batch_id") == bid)
    ).collect()
    assert len(audits) == 1 and audits[0]["severity"] == "WARNING"
    assert "COMPLETED -> VALIDATED" in audits[0]["details"]
    sweep = pipeline.prov.transition_violations().collect()
    assert any(
        r["batch_id"] == bid
        and r["prev_status"] == "COMPLETED"
        and r["status"] == "VALIDATED"
        for r in sweep
    )
    # the legal lifecycle itself produced no violations
    assert not any(r["prev_status"] == "INGESTED" and r["status"] == "VALIDATED"
                   for r in sweep)


def test_determinism_same_input_same_digest(pipeline, spark, tmp_path):
    """SHA-256 reproducibility intent (SURVEY.md §5.1 #2): same input
    twice ⇒ identical canonical row-digest."""
    f = _write(tmp_path, "a.csv", CSV_GOOD)
    r1 = pipeline.run_batch("hospital_a", f)
    r2 = pipeline.run_batch("hospital_a", f)
    b = pipeline.prov.batches()
    d1 = b.filter(F.col("batch_id") == r1["batch_id"]).collect()[0]["final_sha256"]
    d2 = b.filter(F.col("batch_id") == r2["batch_id"]).collect()[0]["final_sha256"]
    assert d1 == d2 and d1 is not None
