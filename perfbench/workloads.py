"""The benchmark's two workloads.

Each workload generates its inputs from the seed, then runs *rounds* of
a fixed mix of operations until the measuring window has passed (at
least one round), and finally checks the program's outputs:

- ``pipeline``: one closed-loop client on a fresh lake. A round first
  loads two deliveries of one source through ``run_bulk``, upserting
  each published artifact into a Hudi copy-on-write table keyed by
  ``patient_id`` (precombine ``visit_date``, as the reference's
  register_hudi); the second delivery reuses half of the first one's
  keys, so its upsert rewrites touched file groups. It then streams
  four small files through ``run_batch`` (CSV, JSONL, HL7 and one file
  carrying an invalid record), reading each batch's
  ``LineageApi.batch``, ``steps`` and ``rules`` after it lands. The
  bulk part is per-row work (scan, validation, the regex scrub chain,
  parquet, the Hudi merge); the stream part is fixed per-batch cost
  (provenance appends, the provenance read in ``update_status``, the
  per-job scheduler floor). The round starts on a cold JVM, the way a
  scheduled ETL job starts: nothing warms it up first.
- ``registry_headline``: a round is one pass over the 16 headline
  registry queries; every plan is built fresh through the builder under
  ``RegisteredQuery.fn.__wrapped__`` after ``clearCache()``, and both
  the build and the ``collect()`` are timed, after two untimed warm-up
  passes. It touches no pipeline code, and the pipeline touches no
  registry code.

The operation whose latency ``op_p50_s`` reports is one ``run_batch``
call (pipeline) or one query's build plus collect (registry_headline).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import clinical_inputs
import registry_inputs

# Input sizes (also recorded in METRICS.md)
BULK_FILES_PER_DELIVERY, BULK_RECORDS_PER_FILE = 4, 2500
BULK_OVERLAP, BULK_INVALID_SHARE = 0.5, 0.01
REGISTRY_SF = 0.01

HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
    "join_left_order_counts", "agg_max_by_precombine",
    "window_latest_per_key", "window_running_total", "asof_join_events",
    "phi_scrub_chain", "hl7_parse_extract", "validation_report",
    "dedup_exact", "dedup_minhash_lsh", "text_quality_score",
    "sim_cosine_topk", "hash_row_integrity",
)

PIPELINE_STEPS = ("ingest_file", "validate_batch", "scrub_batch",
                  "transform_batch", "run_bulk")
WRITER_FUNCS = ("row_hash_agg", "sha256_file", "write_parquet",
                "write_versioned_artifact", "quarantine_write")


@dataclass
class Outcome:
    rounds: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    loads: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    input_bytes: int = 0
    lake_bytes: int = 0
    hudi_commits: list[dict] = field(default_factory=list)
    query_times: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        self.problems.append(what)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _r, _d, files in os.walk(path))


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed, self.seconds = work, seed, seconds
        self.out = Outcome()

    def run(self) -> Outcome:
        """Rounds until the window has passed (the last round completes)."""
        start = time.perf_counter()
        r = 0
        while time.perf_counter() - start < self.seconds and self.more(r):
            self.prepare(r)
            with self.tracer.span("round", ref=f"round{r}"):
                t0 = time.perf_counter()
                self.round(r)
                self.out.rounds.append(time.perf_counter() - t0)
            r += 1
        return self.out

    def more(self, r: int) -> bool:
        return True

    def prepare(self, r: int) -> None:
        """Untimed preparation of round ``r``."""

    def timed(self, what: str, fn, *args, into: list | None = None):
        """One operation: time it into ``into`` (default: the workload's
        operation latencies), count it, and count it failed if it
        raises."""
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            self.out.fail(f"{what}: {type(exc).__name__}: {exc}", exc)
            return None
        finally:
            (self.out.ops if into is None else into).append(
                time.perf_counter() - t0)


class Pipeline(Workload):
    name = "pipeline"

    def setup(self) -> None:
        from fda_clinical_etl_pipeline_spark.sources import writers

        # inputs for one round per 20 s of window; a round takes about a
        # minute today, so a 10 s window measures exactly one round
        n_rounds = max(1, math.ceil(self.seconds / 20))
        self.batches = clinical_inputs.batch_stream_rounds(
            self.seed, os.path.join(self.work, "in", "stream"), n_rounds)
        self.deliveries = [
            clinical_inputs.bulk_pair(
                self.seed, os.path.join(self.work, "in", "bulk"),
                clinical_inputs.SOURCES[r % len(clinical_inputs.SOURCES)],
                BULK_FILES_PER_DELIVERY, BULK_RECORDS_PER_FILE,
                BULK_OVERLAP, BULK_INVALID_SHARE)
            for r in range(min(n_rounds, len(clinical_inputs.SOURCES)))
        ]
        self.batch_results: list[tuple] = []
        self.bulk_results: list[tuple] = []
        for f in WRITER_FUNCS:
            self.tracer.wrap(writers, f, f"writers.{f}")

    def more(self, r: int) -> bool:
        return r < len(self.batches)

    def prepare(self, r: int) -> None:
        """A fresh lake and pipeline for every round."""
        from fda_clinical_etl_pipeline_spark.api import LineageApi
        from fda_clinical_etl_pipeline_spark.catalog import Catalog
        from fda_clinical_etl_pipeline_spark.pipeline import (
            ClinicalPipeline, Zones)

        if r:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.lake = os.path.join(self.work, f"lake{r}")
        self.pipeline = ClinicalPipeline(self.spark, Zones(self.lake),
                                         Catalog())
        for m in PIPELINE_STEPS:
            self.tracer.wrap(self.pipeline, m, f"pipeline.{m}")
        # update_status reads the batch's current status, then appends:
        # its self time is the provenance read, its child span the write
        self.tracer.wrap(self.pipeline.prov, "update_status",
                         "provenance.update_status")
        self.tracer.wrap(self.pipeline.prov, "_append", "provenance.write")
        self.api = LineageApi(self.pipeline.prov)
        self.batch_results.clear()
        self.bulk_results.clear()
        self.out.input_bytes = 0  # lake and input bytes of the last round

    def round(self, r: int) -> None:
        """The bulk load, then the batch stream."""
        self.bulk_load(self.deliveries[r % len(self.deliveries)])
        self.batch_stream(self.batches[r])

    def bulk_load(self, pair) -> None:
        from fda_clinical_etl_pipeline_spark.sources.hudi_table import (
            HudiTable)

        table = None
        for i, d in enumerate(pair):
            name = f"{d.source}/delivery{i}"

            def deliver(d=d, table=table):
                res = self.pipeline.run_bulk(d.source, d.directory)
                df = self.spark.read.parquet(res["version_path"])
                if table is None:
                    with self.tracer.span("hudi_table.create"):
                        table = HudiTable.create(
                            self.spark,
                            os.path.join(self.lake, "hudi", d.source),
                            d.source, "patient_id", "visit_date")
                with self.tracer.span("hudi_table.upsert", ref=name):
                    instant = table.upsert(df)
                return res, table, instant

            with self.tracer.span("pipeline.delivery", ref=name):
                out = self.timed(name, deliver, into=self.out.loads)
            if out is None:
                return
            res, table, instant = out
            self.out.input_bytes += sum(os.path.getsize(f.path)
                                        for f in d.files)
            self.out.hudi_commits.append(table.commit_metadata(instant))
            self.bulk_results.append((d, name, res, table))

    def batch_stream(self, files) -> None:
        for f in files:
            name = os.path.basename(f.path)
            with self.tracer.span("pipeline.run_batch", ref=name):
                res = self.timed(name, self.pipeline.run_batch,
                                 f.source, f.path)
            if res is None:
                continue
            self.out.input_bytes += os.path.getsize(f.path)
            lineage = {}
            for call in ("batch", "steps", "rules"):
                with self.tracer.span(f"api.{call}"):
                    lineage[call] = self.timed(
                        f"{name} lineage {call}", getattr(self.api, call),
                        res["batch_id"], into=self.out.reads)
            self.batch_results.append((f, name, res, lineage))

    def check(self) -> None:
        """Checks the last round's lake."""
        zones = self.pipeline.zones
        for f, name, res, lineage in self.batch_results:
            qdir = os.path.join(zones.quarantine, f.source, res["batch_id"])
            quarantined = (self.spark.read.parquet(qdir).count()
                           if os.path.isdir(qdir) else 0)
            published = []
            if not f.n_invalid and lineage["batch"]:
                published = _rows(self.spark.read.parquet(
                    lineage["batch"].get("version_path")))
            problems = checks.batch_problems(
                name, f.n_records, f.n_invalid, res, lineage["batch"],
                quarantined, len(published))
            problems += checks.phi_problems(name, published)
            if problems:
                self.out.fail("; ".join(problems[:3]))
        published_rows = []
        for d, name, res, table in self.bulk_results:
            published = _rows(self.spark.read.parquet(res["version_path"]))
            problems = checks.bulk_problems(
                name, len(d.files), d.n_valid, d.n_invalid, res,
                len(published))
            problems += checks.phi_problems(name, published)
            if problems:
                self.out.fail("; ".join(problems[:3]))
            published_rows.append(published)
        if self.bulk_results:
            table = self.bulk_results[-1][3]
            data_cols = list(published_rows[0][0]) if published_rows[0] else []
            expected = checks.expected_snapshot(
                published_rows, "patient_id", "visit_date")
            snap = [{c: r[c] for c in data_cols}
                    for r in _rows(table.snapshot())]
            problems = checks.hudi_problems(
                self.bulk_results[-1][0].source, snap, expected, "patient_id")
            if problems:
                self.out.fail("; ".join(problems[:3]))
        self.out.lake_bytes = dir_bytes(self.lake)

    def layers(self, s: dict) -> dict[str, float]:
        """Per-layer totals per round (see METRICS.md)."""
        from spans import inclusive

        n = max(len(self.out.rounds), 1)

        def get(span: str, key: str) -> float:
            return s.get(span, {}).get(key, 0)

        out = {}
        for m in PIPELINE_STEPS:
            for key in ("self_s", "jobs", "executor_run_s"):
                out[f"pipeline.{m}.{key}"] = get(f"pipeline.{m}", key) / n
        batches = get("pipeline.run_batch", "calls")
        out["pipeline.batch.input_bytes"] = (
            inclusive(self.tracer.spans, "pipeline.run_batch", "input_bytes")
            / batches if batches else 0.0)
        for key in ("calls", "s", "jobs"):
            out[f"provenance.write.{key}"] = get("provenance.write", key) / n
        out["provenance.read.calls"] = get(
            "provenance.update_status", "calls") / n
        out["provenance.read.s"] = get("provenance.update_status",
                                       "self_s") / n
        out["provenance.files"] = dir_files(self.pipeline.zones.provenance)
        for f in WRITER_FUNCS:
            for key in ("calls", "s"):
                out[f"writers.{f}.{key}"] = get(f"writers.{f}", key) / n
        for call in ("batch", "steps", "rules"):
            for key in ("s", "jobs"):
                out[f"api.{call}.{key}"] = get(f"api.{call}", key) / n
        for key in ("s", "jobs", "shuffle_bytes"):
            out[f"hudi_table.upsert.{key}"] = get("hudi_table.upsert", key) / n
        stats = [w for c in self.out.hudi_commits
                 for ws in c.get("partitionToWriteStats", {}).values()
                 for w in ws]
        changed = sum(w.get("numInserts", 0) + w.get("numUpdateWrites", 0)
                      for w in stats)
        out["hudi_table.upsert.files_rewritten"] = sum(
            1 for w in stats if w.get("prevCommit", "null") != "null") / n
        out["hudi_table.upsert.write_amplification"] = (
            sum(w.get("numWrites", 0) for w in stats) / changed
            if changed else 0.0)
        return out


class RegistryHeadline(Workload):
    name = "registry_headline"

    def setup(self) -> None:
        from fda_clinical_etl_pipeline_spark.registry import all_queries

        self.sf_dir = os.path.join(self.work, f"sf{REGISTRY_SF}")
        registry_inputs.write(self.seed, REGISTRY_SF, self.sf_dir)
        self.queries = all_queries()
        # warm-up: two untimed passes on the timed tables. After a pass
        # at a thousandth of the scale instead, the first timed pass ran
        # ~45% slower than later ones, and after one full pass still ~15%
        # (JIT still compiling), so the median moved with the number of
        # passes that fit the window.
        for _ in range(2):
            for q in HEADLINE:
                self.build(q, self.sf_dir).collect()
            self.spark.catalog.clearCache()

    def build(self, q: str, sf_dir: str):
        # the plain builder: no plan cache between passes
        return self.queries[q].fn.__wrapped__(self.spark, sf_dir)

    def round(self, r: int) -> None:
        self.spark.catalog.clearCache()
        self.results = {}
        for q in HEADLINE:
            def one(q=q):
                with self.tracer.span("registry.build"):
                    df = self.build(q, self.sf_dir)
                with self.tracer.span("registry.execute"):
                    return df.columns, [tuple(x) for x in df.collect()]

            t0 = time.perf_counter()
            with self.tracer.span("registry.q", ref=q):
                res = self.timed(q, one)
            self.out.query_times.setdefault(q, []).append(
                time.perf_counter() - t0)
            if res is not None:
                self.results[q] = res
        self.spark.catalog.clearCache()

    def check(self) -> None:
        """The last pass's rows against each query's DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
            for t in registry_inputs.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.sf_dir, t)}.parquet')")
            for q, (cols, rows) in self.results.items():
                res = con.execute(self.queries[q].oracle)
                problems = checks.oracle_problems(
                    q, rows, cols, res.fetchall(),
                    [d[0] for d in res.description])
                if problems:
                    self.out.fail(problems[0])
        finally:
            con.close()

    def layers(self, s: dict) -> dict[str, float]:
        """Per-layer totals per pass; per query the median over passes."""
        n = max(len(self.out.rounds), 1)
        out = {}
        for span, keys in (("registry.build", ("s", "jobs")),
                           ("registry.execute", (
                               "s", "jobs", "executor_run_s", "input_bytes",
                               "shuffle_bytes"))):
            for key in keys:
                out[f"{span}.{key}"] = s.get(span, {}).get(key, 0) / n
        for q, times in self.out.query_times.items():
            out[f"registry.q.{q}.s"] = statistics.median(times)
        return out


WORKLOADS = {w.name: w for w in (Pipeline, RegistryHeadline)}
