"""Benchmark of record for the clinical pipeline, the lineage API, the
Hudi table and the query registry.

    python3 perfbench/run.py --workload pipeline --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout. Builds the engine's session with
``session.get_spark`` and its shipped defaults, overriding only
``master=local[nproc]`` and ``SPARK_GRAFT_CPUS=nproc``; all load comes
from this one process. Inputs are generated from ``--seed`` into
``perfbench/.work/``, which is removed at exit (only the trace file of a
traced run stays, under ``perfbench/.work/traces/``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Progress and
details go to standard error. METRICS.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pipeline", "registry_headline")

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    from workloads import HEADLINE, PIPELINE_STEPS, WRITER_FUNCS

    u: dict[str, str] = {}
    for m in PIPELINE_STEPS:
        u[f"pipeline.{m}.self_s"] = "s"
        u[f"pipeline.{m}.jobs"] = "count"
        u[f"pipeline.{m}.executor_run_s"] = "s"
    u["pipeline.batch.input_bytes"] = "B"
    u |= {"provenance.write.calls": "count", "provenance.write.s": "s",
          "provenance.write.jobs": "count", "provenance.read.calls": "count",
          "provenance.read.s": "s", "provenance.files": "count"}
    for f in WRITER_FUNCS:
        u[f"writers.{f}.calls"] = "count"
        u[f"writers.{f}.s"] = "s"
    u["writers.lake_bytes_per_input_byte"] = "ratio"
    for call in ("batch", "steps", "rules"):
        u[f"api.{call}.s"] = "s"
        u[f"api.{call}.jobs"] = "count"
    u |= {"hudi_table.upsert.s": "s", "hudi_table.upsert.jobs": "count",
          "hudi_table.upsert.shuffle_bytes": "B",
          "hudi_table.upsert.files_rewritten": "count",
          "hudi_table.upsert.write_amplification": "ratio"}
    u |= {"registry.build.s": "s", "registry.build.jobs": "count",
          "registry.execute.s": "s", "registry.execute.jobs": "count",
          "registry.execute.executor_run_s": "s",
          "registry.execute.input_bytes": "B",
          "registry.execute.shuffle_bytes": "B"}
    for q in HEADLINE:
        u[f"registry.q.{q}.s"] = "s"
    u["session.get_spark.s"] = "s"
    u["process.peak_rss_mb"] = "MB"
    u |= {"trace.overhead_s": "s", "trace.overhead_share": "ratio",
          "trace.round_s": "s"}
    return u


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat: time the
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM child and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill whatever did not exit
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # the Tier-1 overrides, plus scratch paths kept inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)

    t_setup = time.perf_counter()
    # imports the engine: fails here, before any output, without it
    from spans import Tracer, summarize
    from workloads import WORKLOADS

    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    tracer = Tracer(bool(args.trace))
    with tracer.span("session.get_spark"):
        from fda_clinical_etl_pipeline_spark.session import get_spark

        spark = get_spark(master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed,
                                      args.seconds)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        session_s = tracer.spans[0]["end"] - tracer.spans[0]["start"] \
            if tracer.enabled else 0.0
        tracer.spans.clear()
        tracer.overhead_s = 0.0
        t_run, steal0 = time.perf_counter(), cpu_steal()
        out = wl.run()
        run_s = time.perf_counter() - t_run
        steal1 = cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        try:
            wl.check()
        except Exception as exc:  # noqa: BLE001 - a check crash is a miss
            out.fail(f"check: {type(exc).__name__}: {exc}", exc)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))

        if args.trace:
            s = summarize(tracer.spans)
            metrics = dict.fromkeys(per_layer_units(), 0.0)
            metrics.update(wl.layers(s))
            if out.input_bytes:
                metrics["writers.lake_bytes_per_input_byte"] = (
                    out.lake_bytes / out.input_bytes)
            metrics["session.get_spark.s"] = session_s
            metrics["process.peak_rss_mb"] = rss
            metrics["trace.overhead_s"] = tracer.overhead_s
            metrics["trace.overhead_share"] = tracer.overhead_s / run_s
            metrics["trace.round_s"] = statistics.median(out.rounds)
            os.makedirs(os.path.join(HERE, ".work", "traces"),
                        exist_ok=True)
            tracer.write(os.path.join(
                HERE, ".work", "traces",
                f"{args.workload}-seed{args.seed}.jsonl"))
            units = per_layer_units()
        else:
            metrics = {
                "setup_s": setup_s,
                "round_s": statistics.median(out.rounds),
                "op_p50_s": statistics.median(out.ops),
            }
            units = END_TO_END
        report_details(args, out, setup_s, rss, steal)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond
    it, or None when there are fewer than twenty samples."""
    n = len(values)
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = (f"p{p:g}", statistics.quantiles(
                values, n=1000, method="inclusive")[int(p * 10) - 1])
    return best


def report_details(args, out, setup_s: float, rss: float,
                   steal: float) -> None:
    def dist(name, xs):
        if not xs:
            return f"{name}: no samples"
        t = tail(xs)
        tail_s = (f", {t[0]} {t[1]:.3f}s" if t else
                  f", max {max(xs):.3f}s (under 20 samples: no tail "
                  "percentile)")
        return (f"{name}: n={len(xs)} p50 {statistics.median(xs):.3f}s"
                f"{tail_s} [{' '.join(f'{x:.2f}' for x in xs[:40])}]")

    print(f"\n# {args.workload} seed={args.seed} setup {setup_s:.2f}s "
          f"peak_rss {rss:.0f}MB cpu_steal_in_window {steal:.1%}",
          file=sys.stderr)
    print("# " + dist("rounds", out.rounds), file=sys.stderr)
    print("# " + dist("ops", out.ops), file=sys.stderr)
    if out.reads:
        print("# " + dist("lineage reads", out.reads), file=sys.stderr)
    if out.loads:
        print("# " + dist("bulk deliveries", out.loads), file=sys.stderr)
    if out.input_bytes:
        print(f"# lake bytes per input byte "
              f"{out.lake_bytes / out.input_bytes:.3f}", file=sys.stderr)
    print(f"# attempted {out.attempted} failed {out.failed}",
          file=sys.stderr)
    for p in out.problems[:20]:
        print(f"# problem: {p}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
