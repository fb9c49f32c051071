"""Seeded clinical input files for the three reference formats.

Shapes follow FIXTURES.md §1-3: ``hospital_a`` CSV, ``clinic_b`` JSONL
and ``hospital_c_hl7`` HL7 v2 (MSH/PID/OBR/OBX). Every record embeds
PHI in free text (phone, email, SSN, street address, ISO and compact
dates) so the scrub rule chain has work on every row.

Everything is derived from ``random.Random`` seeded with a string built
from the benchmark seed, so one seed always gives byte-identical files.
Each generated file comes with its expectation: which records are valid,
which keys they carry, and how many records are invalid.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from dataclasses import dataclass, field

SOURCES = ("hospital_a", "clinic_b", "hospital_c_hl7")
EXT = {"hospital_a": "csv", "clinic_b": "jsonl", "hospital_c_hl7": "hl7"}

FIRST = ("Maria", "John", "Rajesh", "Emily", "Li", "Anna", "Bob", "Aisha",
         "Carlos", "Mei", "Omar", "Sofia", "Tom", "Priya", "Ivan", "Grace")
LAST = ("Gonzalez", "Smith", "Kumar", "Clark", "Wei", "Lee", "Roy", "Khan",
        "Silva", "Chen", "Haddad", "Rossi", "Brown", "Patel", "Petrov", "Kim")
STREETS = ("Evergreen Terrace", "Main St", "Oak Avenue", "Maple Road",
           "Harbor Blvd", "Pine Lane", "Cedar Court", "Elm Street")
DIAGNOSES = ("Hypertension", "Influenza", "Asthma", "Migraine", "Diabetes",
             "Back pain", "Reflux", "Bronchitis")
ICD = ("J10", "E11", "M54", "I10", "G43", "K21")
DOMAINS = ("clinic.org", "host.org", "mail.com", "health.net")

@dataclass
class InputFile:
    """One generated file and what the pipeline must make of it."""

    source: str
    path: str
    n_records: int
    n_invalid: int
    valid_keys: list[str] = field(default_factory=list)


@dataclass
class Delivery:
    """One ``run_bulk`` delivery: a directory of files of one source."""

    source: str
    directory: str
    files: list[InputFile]

    @property
    def n_valid(self) -> int:
        return sum(f.n_records - f.n_invalid for f in self.files)

    @property
    def n_invalid(self) -> int:
        return sum(f.n_invalid for f in self.files)

    @property
    def valid_keys(self) -> list[str]:
        return [k for f in self.files for k in f.valid_keys]


def _date(rng: random.Random, lo: int, hi: int, sep: str = "-") -> str:
    return (f"{rng.randint(lo, hi):04d}{sep}{rng.randint(1, 12):02d}"
            f"{sep}{rng.randint(1, 28):02d}")


def _person(rng: random.Random) -> dict:
    first, last = rng.choice(FIRST), rng.choice(LAST)
    return {
        "name": f"{first} {last}",
        "email": f"{first.lower()}.{last.lower()}@{rng.choice(DOMAINS)}",
        "phone": f"{rng.randint(200, 999)}-{rng.randint(200, 999)}-"
                 f"{rng.randint(0, 9999):04d}",
        "ssn": f"{rng.randint(100, 899)}-{rng.randint(10, 99)}-"
               f"{rng.randint(1000, 9999)}",
        "address": f"{rng.randint(1, 9999)} {rng.choice(STREETS)}",
        "dob": _date(rng, 1930, 2015),
        "visit": _date(rng, 2023, 2025),
    }


def _note(rng: random.Random, p: dict, what: str) -> str:
    """Free text with two or three embedded PHI fragments; no commas so
    the CSV stays one field per column without quoting."""
    fragments = [
        f"Contact: {p['phone']}",
        f"Email {p['email']} about follow-up",
        f"Lives at {p['address']}",
        f"SSN {p['ssn']} on file",
        f"Last seen {_date(rng, 2020, 2024)}",
        f"Referral dated {_date(rng, 2020, 2024, sep='')}",
    ]
    rng.shuffle(fragments)
    return (f"Patient {p['name']} attended for {what}. "
            + ". ".join(fragments[: rng.randint(2, 3)]))


def _csv_text(rng: random.Random, keys: list[str], bad: set[int]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["patient_id", "patient_name", "ssn", "dob", "visit_date",
                "diagnosis", "notes"])
    for i, key in enumerate(keys):
        p = _person(rng)
        dx = rng.choice(DIAGNOSES)
        w.writerow(["" if i in bad else key, p["name"], p["ssn"], p["dob"],
                    p["visit"], dx, _note(rng, p, dx)])
    return buf.getvalue()


def _jsonl_text(rng: random.Random, keys: list[str], bad: set[int]) -> str:
    lines = []
    for i, key in enumerate(keys):
        p = _person(rng)
        icd = rng.choice(ICD)
        lines.append(json.dumps({
            "id": "" if i in bad else key, "name": p["name"],
            "date_of_birth": p["dob"], "encounter": p["visit"], "icd": icd,
            "free_text": _note(rng, p, icd),
        }))
        if rng.random() < 0.02:
            lines.append("")  # blank lines are skipped by the source
    return "\n".join(lines) + "\n"


def _hl7_text(rng: random.Random, keys: list[str], bad: set[int]) -> str:
    msgs = []
    for i, key in enumerate(keys):
        p = _person(rng)
        ts = f"2025{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}" \
             f"{rng.randint(0, 235959):06d}"
        dob = p["dob"].replace("-", "")
        # SSN at PID-16 or PID-17: the canonical mapping coalesces
        # 16/17/19 (FIXTURES.md §3 reproduces both placements)
        tail = ("|||||" + p["ssn"]) if i % 2 else ("||||||" + p["ssn"])
        segs = [
            f"MSH|^~\\&|HOSPITAL_C|LAB|QLM_SYS|DEST|{ts}||ORU^R01|"
            f"MSG{key}|P|2.3",
            f'PID|1||{key}||"{p["name"]}"||{dob}|'
            f'{rng.choice("MF")}|||{p["address"]}{tail}',
            f"OBR|1||{rng.randint(1000, 9999)}|TEST^TESTNAME",
            f"OBX|1|ST|RESULT||{rng.randint(1, 400)}|units||N",
            f"NTE|1||{_note(rng, p, 'lab review')}",
        ]
        if i in bad:
            segs.pop(1)
        msgs.append("\n".join(segs))
    return "\n\n".join(msgs) + "\n"


_WRITERS = {"hospital_a": _csv_text, "clinic_b": _jsonl_text,
            "hospital_c_hl7": _hl7_text}


def key_for(source: str, n: int) -> str:
    """Record key number ``n`` of a source. HL7 ids stay at six or seven
    digits: eight- and nine-digit runs are PHI patterns (compact date,
    SSN digits) that the scrub chain would redact."""
    if source == "hospital_a":
        return f"P{n:07d}"
    if source == "clinic_b":
        return f"C{n:07d}"
    return str(300000 + n)


def write_file(rng: random.Random, source: str, path: str,
               keys: list[str], n_bad: int) -> InputFile:
    """One file of ``keys`` with ``n_bad`` deliberately invalid records
    (FIXTURES.md §7): an empty non-nullable id in CSV and JSONL, a
    message without its PID segment in HL7."""
    bad = set(rng.sample(range(len(keys)), n_bad)) if n_bad else set()
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(_WRITERS[source](rng, keys, bad))
    return InputFile(source, path, len(keys), len(bad),
                     [k for i, k in enumerate(keys) if i not in bad])


# Stream file sizes: a ladder from hundreds to about 2k records that
# shifts by one slot per round, so every round streams the same total
# and each format meets every size as rounds go by.
STREAM_SIZES = (250, 700, 1300, 2000)


def batch_stream_rounds(seed: int, out_dir: str,
                        n_rounds: int) -> list[list[InputFile]]:
    """Rounds of four small files: one valid CSV, JSONL and HL7 file,
    then a file carrying exactly one invalid record, whose format
    rotates from round to round. One file in four is therefore
    quarantined as a whole (run_batch validates per file). Sizes follow
    STREAM_SIZES with up to 5% seeded jitter."""
    rng = random.Random(f"batch_stream:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    rounds, next_key = [], 0
    for r in range(n_rounds):
        plan = [(s, 0) for s in SOURCES] + [(SOURCES[r % len(SOURCES)], 1)]
        files = []
        for i, (source, bad) in enumerate(plan):
            size = STREAM_SIZES[(i + r) % len(STREAM_SIZES)]
            n = round(size * rng.uniform(0.95, 1.05))
            keys = [key_for(source, next_key + j) for j in range(n)]
            next_key += n
            path = os.path.join(
                out_dir, f"r{r:03d}_{i}_{source}.{EXT[source]}")
            files.append(write_file(rng, source, path, keys, bad))
        rounds.append(files)
    return rounds


def bulk_pair(seed: int, out_dir: str, source: str, n_files: int,
              records_per_file: int, overlap: float = 0.5,
              invalid_share: float = 0.01) -> list[Delivery]:
    """Two deliveries of ``n_files`` files of one source. The second
    delivery reuses ``overlap`` of the first delivery's keys (so its
    Hudi upsert updates stored records) and draws the rest fresh. A
    share ``invalid_share`` of each file's records is invalid and must
    be quarantined row by row."""
    rng = random.Random(f"bulk:{seed}:{source}")
    per_delivery = n_files * records_per_file
    first_keys = [key_for(source, n) for n in range(per_delivery)]
    reused = rng.sample(first_keys, int(per_delivery * overlap))
    fresh = [key_for(source, per_delivery + n)
             for n in range(per_delivery - len(reused))]
    second_keys = reused + fresh
    rng.shuffle(second_keys)
    pair = []
    for d, keys in enumerate((first_keys, second_keys)):
        ddir = os.path.join(out_dir, source, f"delivery{d}")
        os.makedirs(ddir, exist_ok=True)
        files = []
        for i in range(n_files):
            chunk = keys[i * records_per_file:(i + 1) * records_per_file]
            path = os.path.join(ddir, f"{i:04d}.{EXT[source]}")
            n_bad = max(1, round(len(chunk) * invalid_share))
            files.append(write_file(rng, source, path, chunk, n_bad))
        pair.append(Delivery(source, ddir, files))
    return pair
