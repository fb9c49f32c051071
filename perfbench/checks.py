"""Output checks. Each takes plain Python values collected from the
program's outputs and returns a list of problems; an empty list means
the output is correct. Keeping them free of Spark lets the benchmark's
own tests plant defects cheaply.
"""

from __future__ import annotations

import math
import re

from fda_clinical_etl_pipeline_spark.functions.scrub import DEFAULT_PHI_RULES

# The exclusions tests/test_pipeline_e2e.py applies to qlm_ready output:
# ISO dates are not checked (hospital_a's visit_date is not PHI), and the
# date token is removed before matching.
PHI_EXCLUDED_RULES = ("PHI_DATE_ISO",)
PHI_PATTERNS = tuple(
    (r.rule_id, re.compile(r.pattern, re.IGNORECASE))
    for r in DEFAULT_PHI_RULES if r.rule_id not in PHI_EXCLUDED_RULES
)


def batch_problems(name: str, n_records: int, n_invalid: int,
                   result: dict, lineage_batch: dict | None,
                   quarantined: int, published: int) -> list[str]:
    """A ``run_batch`` result against its generated file: a file with an
    invalid record is quarantined as a whole (FAILED_VALIDATION, the bad
    rows in the quarantine zone, nothing published); any other file
    completes with every record published."""
    want = "FAILED_VALIDATION" if n_invalid else "COMPLETED"
    out = []
    if result.get("status") != want:
        out.append(f"{name}: status {result.get('status')} != {want}")
    if not n_invalid and result.get("rows") != n_records:
        out.append(f"{name}: rows {result.get('rows')} != {n_records}")
    if published != (0 if n_invalid else n_records):
        out.append(f"{name}: published {published} rows")
    if lineage_batch is None:
        out.append(f"{name}: lineage has no batch row")
    else:
        if lineage_batch.get("status") != want:
            out.append(f"{name}: lineage status "
                       f"{lineage_batch.get('status')} != {want}")
        if lineage_batch.get("total_rows") != n_records:
            out.append(f"{name}: lineage total_rows "
                       f"{lineage_batch.get('total_rows')} != {n_records}")
    if quarantined != n_invalid:
        out.append(f"{name}: quarantined {quarantined} != {n_invalid}")
    return out


def bulk_problems(name: str, n_files: int, n_valid: int, n_invalid: int,
                  result: dict, published: int) -> list[str]:
    """A ``run_bulk`` summary against its delivery: invalid records are
    quarantined row by row and every valid record is published."""
    out = []
    if result.get("files") != n_files:
        out.append(f"{name}: files {result.get('files')} != {n_files}")
    if result.get("rows") != n_valid + n_invalid:
        out.append(f"{name}: rows {result.get('rows')} != "
                   f"{n_valid + n_invalid}")
    if result.get("quarantined") != n_invalid:
        out.append(f"{name}: quarantined {result.get('quarantined')} != "
                   f"{n_invalid}")
    if published != n_valid:
        out.append(f"{name}: published {published} != {n_valid}")
    return out


def phi_problems(name: str, rows: list[dict]) -> list[str]:
    """No DEFAULT_PHI_RULES pattern may survive in any published value."""
    out = []
    for row in rows:
        for col, v in row.items():
            if not isinstance(v, str):
                continue
            text = v.replace("[REDACTED_DATE]", "")
            for rule_id, pat in PHI_PATTERNS:
                m = pat.search(text)
                if m:
                    out.append(f"{name}: {rule_id} survives in {col}: "
                               f"{m.group(0)!r}")
    return out


def expected_snapshot(deliveries: list[list[dict]], key: str,
                      precombine: str) -> dict[str, dict]:
    """The Hudi upsert contract replayed in Python: deliveries upserted in
    order; a later row replaces the stored one unless the stored
    precombine value is greater (NULL lowest, ties to the newer row)."""
    def order(row):
        v = row.get(precombine)
        return (v is not None, v if v is not None else "")

    table: dict[str, dict] = {}
    for rows in deliveries:
        for row in rows:
            k = row[key]
            old = table.get(k)
            if old is None or order(row) >= order(old):
                table[k] = row
    return table


def hudi_problems(name: str, snapshot: list[dict],
                  expected: dict[str, dict], key: str) -> list[str]:
    """One row per distinct key, and each row is the precombine winner."""
    out = []
    keys = [r[key] for r in snapshot]
    if len(keys) != len(set(keys)):
        out.append(f"{name}: {len(keys) - len(set(keys))} duplicate keys")
    if set(keys) != set(expected):
        out.append(f"{name}: {len(set(keys) ^ set(expected))} keys differ "
                   "from the expected snapshot")
    wrong = 0
    for r in snapshot:
        want = expected.get(r[key])
        if want is not None and any(r.get(c) != v for c, v in want.items()):
            wrong += 1
    if wrong:
        out.append(f"{name}: {wrong} rows are not the precombine winner")
    return out


def _decimals(x: float) -> int:
    """Decimal places in the shortest repr of ``x`` (0 for integral
    values, 99 for exponent forms)."""
    r = repr(x)
    if "e" in r or "." not in r:
        return 99
    frac = r.split(".")[1]
    return 0 if frac == "0" else len(frac)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if round(a, 10) == round(b, 10):
            return True
        # A rounded aggregate (ROUND(SUM(..), 2)) can land one unit apart
        # in its last kept digit when the engines sum in another order:
        # allow exactly that, nothing more.
        places = max(_decimals(a), _decimals(b))
        return 0 < places <= 6 and abs(a - b) <= 1.0001 * 10.0 ** -places
    return ("NULL" if a is None else str(a)) == (
        "NULL" if b is None else str(b))


def _sorted_rows(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        if isinstance(v, float):
            return (1, "", 0.0 if math.isnan(v) else v)
        return (0, "NULL" if v is None else str(v), 0.0)

    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda r: [key(v) for v in r])


def oracle_problems(name: str, rows, cols, oracle_rows,
                    oracle_cols) -> list[str]:
    """Registry rows against the DuckDB oracle, as multisets of rows with
    columns ordered by name; floats equal when they agree to 10 places,
    or differ by one unit in the last digit of a rounded value."""
    got = _sorted_rows(rows, cols)
    want = _sorted_rows(oracle_rows, oracle_cols)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, the oracle {len(want)}"]
    bad = sum(1 for g, w in zip(got, want)
              if len(g) != len(w) or not all(map(_same, g, w)))
    if bad:
        return [f"{name}: {bad} of {len(got)} rows differ from the oracle"]
    return []
