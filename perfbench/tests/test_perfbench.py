"""The benchmark's own tests: seeded inputs are reproducible, every
output check catches a planted defect, and the metric names the
benchmark prints are exactly the ones BENCHMARK.json declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import checks
import clinical_inputs
import registry_inputs
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _tree(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _ds, fs in os.walk(d) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    files = _tree(a)
    if files != _tree(b):
        return False
    return all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                           shallow=False) for f in files)


def _generate(seed: int, d: str) -> None:
    clinical_inputs.batch_stream_rounds(seed, os.path.join(d, "stream"), 2)
    for source in clinical_inputs.SOURCES:
        clinical_inputs.bulk_pair(seed, os.path.join(d, "bulk"), source, 2, 40)
    registry_inputs.write(seed, 0.001, os.path.join(d, "registry"))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    _generate(7, str(tmp_path / "a"))
    _generate(7, str(tmp_path / "b"))
    _generate(8, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for sub in ("stream", "bulk", "registry"):
        a, c = tmp_path / "a" / sub, tmp_path / "c" / sub
        assert _tree(str(a)) == _tree(str(c))
        assert not _same_tree(str(a), str(c)), sub


def test_generated_expectations(tmp_path):
    rounds = clinical_inputs.batch_stream_rounds(3, str(tmp_path / "s"), 3)
    for r, files in enumerate(rounds):
        assert [f.source for f in files[:3]] == list(clinical_inputs.SOURCES)
        assert [f.n_invalid for f in files] == [0, 0, 0, 1]
        assert files[3].source == clinical_inputs.SOURCES[r % 3]
    for source in clinical_inputs.SOURCES:
        first, second = clinical_inputs.bulk_pair(
            3, str(tmp_path / "b"), source, 2, 100)
        overlap = set(first.valid_keys) & set(second.valid_keys)
        assert overlap, first.source
        assert first.n_invalid == second.n_invalid == 2
        assert first.n_valid == second.n_valid == 198


def test_inputs_embed_phi(tmp_path):
    files = clinical_inputs.batch_stream_rounds(5, str(tmp_path), 1)[0]
    for f in files:
        text = open(f.path, encoding="utf-8").read()
        for rule_id, pat in checks.PHI_PATTERNS:
            if rule_id == "PHI_SSN_DIGITS":
                continue  # nine-digit SSNs are not generated
            assert pat.search(text), (f.source, rule_id)


def test_phi_check_catches_a_leaked_ssn():
    clean = [{"patient_id": "P0000001", "note_text":
              "Patient seen. SSN [REDACTED_SSN] on file",
              "dob": "[REDACTED_DATE]", "visit_date": "2025-01-02"}]
    assert checks.phi_problems("ok", clean) == []
    leaked = [dict(clean[0], note_text="Patient seen. SSN 523-41-7788")]
    problems = checks.phi_problems("bad", leaked)
    assert problems and "PHI_SSN" in problems[0]


def test_batch_check_catches_wrong_counts_and_status():
    good = {"status": "COMPLETED", "rows": 10}
    lineage = {"status": "COMPLETED", "total_rows": 10}
    assert checks.batch_problems("f", 10, 0, good, lineage, 0, 10) == []
    assert checks.batch_problems(
        "f", 10, 0, dict(good, rows=9), lineage, 0, 10)
    assert checks.batch_problems("f", 10, 0, good, lineage, 0, 9)
    assert checks.batch_problems(
        "f", 10, 0, good, dict(lineage, total_rows=11), 0, 10)
    assert checks.batch_problems("f", 10, 0, good, lineage, 1, 10)
    failed = {"status": "FAILED_VALIDATION"}
    flineage = {"status": "FAILED_VALIDATION", "total_rows": 10}
    assert checks.batch_problems("f", 10, 1, failed, flineage, 1, 0) == []
    assert checks.batch_problems("f", 10, 1, good, lineage, 1, 0)
    assert checks.batch_problems("f", 10, 1, failed, flineage, 0, 0)


def test_bulk_check_catches_wrong_counts():
    res = {"files": 2, "rows": 100, "quarantined": 2}
    assert checks.bulk_problems("d", 2, 98, 2, res, 98) == []
    assert checks.bulk_problems("d", 2, 98, 2, res, 97)
    assert checks.bulk_problems("d", 2, 98, 2, dict(res, rows=99), 98)
    assert checks.bulk_problems("d", 2, 98, 2, dict(res, quarantined=1), 98)


def test_hudi_check_catches_duplicates_and_wrong_winner():
    d0 = [{"k": "a", "pc": "2", "v": 1}, {"k": "b", "pc": "1", "v": 1}]
    d1 = [{"k": "a", "pc": "1", "v": 2}, {"k": "b", "pc": "1", "v": 2},
          {"k": "c", "pc": None, "v": 2}]
    want = checks.expected_snapshot([d0, d1], "k", "pc")
    # stored a wins on a greater precombine; b ties, so the newer row wins
    assert {k: r["v"] for k, r in want.items()} == {"a": 1, "b": 2, "c": 2}
    snap = [want["a"], want["b"], want["c"]]
    assert checks.hudi_problems("t", snap, want, "k") == []
    assert checks.hudi_problems("t", snap + [want["a"]], want, "k")
    assert checks.hudi_problems("t", [d1[0], want["b"], want["c"]], want, "k")
    assert checks.hudi_problems("t", snap[:2], want, "k")


def test_oracle_check_catches_a_wrong_row():
    rows, cols = [(1, "x", 0.5), (2, "y", None)], ["a", "b", "c"]
    oracle = [(None, 2, "y"), (0.5, 1, "x")]
    assert checks.oracle_problems("q", rows, cols, oracle,
                                  ["c", "a", "b"]) == []
    assert checks.oracle_problems("q", rows[:1] + [(2, "z", None)], cols,
                                  oracle, ["c", "a", "b"])
    assert checks.oracle_problems("q", rows[:1], cols, oracle,
                                  ["c", "a", "b"])


def test_oracle_check_allows_only_a_last_digit_flip():
    cols = ["k", "s"]
    oracle = [("a", 1234567.89), ("b", 0.0501)]
    # summation order can move a rounded sum by one unit in its last place
    assert checks.oracle_problems(
        "q", [("a", 1234567.9), ("b", 0.0501)], cols, oracle, cols) == []
    assert checks.oracle_problems(
        "q", [("a", 1234567.88), ("b", 0.0502)], cols, oracle, cols) == []
    # two units, or a wrong integral value, is a wrong result
    assert checks.oracle_problems(
        "q", [("a", 1234567.91), ("b", 0.0501)], cols, oracle, cols)
    assert checks.oracle_problems(
        "q", [("a", 1234567.89), ("b", 0.0503)], cols, oracle, cols)
    assert checks.oracle_problems(
        "q", [("a", 7.0)], ["k", "s"], [("a", 8.0)], cols)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(
        run.END_TO_END.values())
    layer = run.per_layer_units()
    assert [m["name"] for m in spec["per_layer"]] == list(layer)
    assert [m["unit"] for m in spec["per_layer"]] == list(layer.values())
    assert {w["name"] for w in spec["workloads"]} == set(
        run.WORKLOAD_NAMES)
