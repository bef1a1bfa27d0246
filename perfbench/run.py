"""Benchmark of record for rfb-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``monthly_load``: a seeded synthetic 37-zip RFB month through
  ``pipeline.run.run_month`` (cold load into fresh directories), the
  post-load ``validate`` checks, and a re-run of the finished month;
- ``operators``: registered query operators from every operator module
  (relational, events, graph, integrity, dedup, text, similarity,
  sampling, media) on the bundled parquet corpus, in a seed-shuffled
  order.

One SparkSession ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc`` in
this process generates all load; every workload is a closed loop with
one client. Every result is checked: query results against their
DuckDB oracle, the month against the generator's injected counts.

Set-up (``setup_s``): the JVM and SparkSession start, the workload's
memo bases, and one warm-up that pays the first-call costs (JIT, code
generation): a pass over the operators, or a pass over the month on
another ``ref_ym``. The timed region then runs whole passes
until ``--seconds`` have gone by, and at least ``MIN_PASSES``; every
time is the median over the passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` discards
one pass, then alternates untraced and traced passes, starting and
ending untraced, prints the per-layer metrics from the traced ones and
the tracing overhead (traced minus untraced), and writes every span.
The last stdout line is one JSON object; the full record, with every
printed field, goes to ``perfbench-results/``. The exit status is 1
when an operation failed or returned a wrong result. Nothing is read or
written outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("monthly_load", "operators")
SIZES = {
    # corpus of the operators, rows per Empresas part of the month
    "full": ("sf0.01", 1000),
    "tiny": ("sf0.001", 30),
}
# passes a run measures at least: with the set-up, two passes of each
# workload fit the benchmark's time budget and three do not (METRICS.md)
MIN_PASSES = 2
# a run must end well inside 180 s; stop starting passes past this
MEASURE_DEADLINE_S = 140.0
OPERATOR_LAYERS = (
    "relational", "events", "graph", "integrity",
    "dedup", "text", "similarity", "sampling", "media",
)
PROGRAM_FILES = (
    "rfb_data_pipeline_spark/__init__.py",
    "__spark_entry__.py",
    "tools/check_oracle.py",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    t_process = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        result = _run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _report(args, result)
    return 1 if result["failed"] else 0


def _isolate(work: str) -> None:
    """Keep every temporary file inside the checkout and pin the core
    count, before any Spark or program import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT, HERE]


def _session(work: str):
    from rfb_data_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _run(args, work: str, t_process: float) -> dict:
    import rfb_data_pipeline_spark  # noqa: F401 - the checkout's copy first
    import workloads
    from spans import SpanRecorder

    corpus, rows_per_part = SIZES[args.size]
    if args.workload == "monthly_load":
        # generation is outside every metric
        wl = workloads.MonthlyLoad(os.path.join(work, "month"), args.seed, rows_per_part)
    else:
        wl = workloads.Operators(os.path.join(HERE, "data", corpus), args.seed)

    rec = SpanRecorder(None, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    rec.phase = "setup"
    t0 = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, wl, rec, t0, session_s, t_process)
    finally:
        _stop(spark)


def _measure(args, spark, wl, rec, t0: float, session_s: float, t_process: float) -> dict:
    rec.spark = spark
    bases = wl.setup(spark, rec)
    start_s = time.perf_counter() - t0
    if args.trace:
        _wrap_program(rec)

    t0 = time.perf_counter()
    wl.prepare(os.path.join(ROOT, ".perfbench-work", "cache"))
    prepare_s = time.perf_counter() - t0
    rec.phase = "warmup"
    warmup_s = wl.warmup(spark, rec)
    setup_s = start_s + warmup_s

    if args.trace:
        # the first pass after the warm-up still runs slower; a traced
        # run discards one, so that residue does not bias the overhead
        rec.enabled = False
        rec.phase = "settle"
        wl.run_pass(spark, rec, -1)

    passes: list[tuple[bool, list[tuple[str, float]]]] = []
    t_measure = time.perf_counter()
    while True:
        # traced runs alternate untraced and traced passes and end on an
        # untraced one, so every traced pass sits between two untraced
        # ones and drift between passes cancels out of the overhead
        traced = bool(args.trace) and len(passes) % 2 == 1
        rec.enabled = traced
        rec.phase = "measure"
        t0 = time.perf_counter()
        passes.append((traced, wl.run_pass(spark, rec, len(passes))))
        last = time.perf_counter() - t0
        done = time.perf_counter() - t_measure >= args.seconds and len(passes) >= MIN_PASSES
        if args.trace and len(passes) % 2 == 0:
            done = False
        if time.perf_counter() - t_process + last > MEASURE_DEADLINE_S:
            done = True
        if done:
            break
    measure_s = time.perf_counter() - t_measure
    rec.enabled = False
    wl.finish(spark)

    rss, rss_by_process = _peak_rss_mb()

    plain = [ops for traced, ops in passes if not traced]
    samples = sorted(dt for ops in plain for _, dt in ops)
    pass_times = [sum(dt for _, dt in ops) for ops in plain]
    failed = len(wl.errors)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "errors": {k: v for k, v in list(wl.errors.items())[:20]},
        "metrics": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "error_rate": (failed / wl.attempted, "ratio"),
            "pass_s": (statistics.median(pass_times), "s"),
            "op_p50_s": (statistics.median(samples), "s"),
        },
        "samples": {"passes": len(pass_times), "ops": len(samples)},
        "setup": {
            "session_start_s": session_s, "memo_bases_s": bases,
            "warmup_s": warmup_s,
        },
        "peak_rss_mb_by_process": rss_by_process,
        "prepare_s": prepare_s,
        "measure_s": measure_s,
        "pass_times_s": pass_times,
        "op_times_s": [ops for _, ops in passes],
        "workload_detail": wl.extra,
    }
    tail = _tail_percentile(samples)
    if tail:
        out["metrics"][f"op_p{tail[0]}_s"] = (tail[1], "s")
    if args.workload == "monthly_load":
        for step in ("month_load", "month_validate", "month_rerun"):
            times = [dt for ops in plain for op, dt in ops if op == step]
            out["metrics"][f"{step}_s"] = (statistics.median(times), "s")
        out["metrics"]["bytes_stored_per_input_byte"] = (
            wl.extra["bytes_stored_per_input_byte"], "ratio"
        )
    if args.trace:
        out["per_layer"] = _per_layer(rec, passes, args.workload, session_s, bases, out)
        out["spans"] = rec.records()
    return out


def _wrap_program(rec) -> None:
    """Spans around the public functions ``pipeline.run.run_month``
    calls, installed on the modules it calls them through."""
    from rfb_data_pipeline_spark.pipeline import manifest, run

    def download_counts(span, results):
        paths = [r["caminho_zip"] for r in results if r["caminho_zip"]]
        span.counters["bytes"] = sum(os.path.getsize(p) for p in paths)
        span.counters["attempts"] = sum(r["attempts"] for r in results)
        span.counters["files"] = len(results)

    def load_counts(span, lr):
        span.counters["rows_in"] = lr.n_raw
        span.counters["rows_corrupt"] = lr.n_corrupt
        span.counters["rows_written"] = lr.n_written

    rec.wrap(run, "discover_files", "pipeline.discovery")
    rec.wrap(run, "download_pending", "pipeline.download", download_counts)
    rec.wrap(run, "sniff_encoding", "sources.encoding")
    rec.wrap(run, "load_table", "pipeline.ingest", load_counts)
    for fn in ("new_manifest", "load_manifest", "pending_for_stage", "apply_updates", "save_manifest"):
        rec.wrap(manifest, fn, "pipeline.manifest")


def _per_layer(rec, passes, workload: str, session_start_s: float, bases: dict, out: dict) -> dict:
    """Per-layer metrics from the traced passes, per pass."""
    n = sum(1 for traced, _ in passes if traced)
    nproc = out["nproc"]
    # operator spans carry phase "measure"; the month's carry
    # "measure:<step>"
    load = rec.by_layer(("measure:load",))
    val = rec.by_layer(("measure:validate",))
    ops = rec.by_layer(("measure",))

    def get(agg, layer, key):
        return agg.get(layer, {}).get(key, 0) / n

    m = {
        "session.start_s": (session_start_s, "s"),
        "memo.build_s": (sum(bases.values(), 0.0), "s"),
        "memo.bases": (len(bases), "count"),
        "pipeline.discovery.time_s": (get(load, "pipeline.discovery", "time_s"), "s"),
        "pipeline.download.time_s": (get(load, "pipeline.download", "time_s"), "s"),
        "pipeline.download.bytes": (get(load, "pipeline.download", "bytes"), "B"),
        "pipeline.download.attempts_per_file": (
            load.get("pipeline.download", {}).get("attempts", 0)
            / max(1, load.get("pipeline.download", {}).get("files", 0)),
            "count",
        ),
        "pipeline.manifest.time_s": (get(load, "pipeline.manifest", "time_s"), "s"),
        "pipeline.manifest.calls": (get(load, "pipeline.manifest", "calls"), "count"),
        "pipeline.manifest.jobs": (get(load, "pipeline.manifest", "jobs"), "count"),
        "pipeline.run.self_s": (get(load, "pipeline.run", "self_s"), "s"),
        "sources.encoding.time_s": (get(load, "sources.encoding", "time_s"), "s"),
        "sources.encoding.calls": (get(load, "sources.encoding", "calls"), "count"),
    }
    for key, unit in (
        ("time_s", "s"), ("rows_in", "count"), ("rows_corrupt", "count"),
        ("rows_written", "count"), ("jobs", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("input_bytes", "B"), ("output_bytes", "B"),
    ):
        m[f"pipeline.ingest.{key}"] = (get(load, "pipeline.ingest", key), unit)
    m["pipeline.validate.time_s"] = (get(val, "pipeline.validate", "time_s"), "s")
    m["pipeline.validate.rows_examined"] = (get(val, "pipeline.validate", "input_records"), "count")
    m["pipeline.validate.shuffle_write_bytes"] = (get(val, "pipeline.validate", "shuffle_write_bytes"), "B")
    for mod in OPERATOR_LAYERS:
        b, e = f"operators.{mod}.build", f"operators.{mod}.exec"
        build_s, exec_s = get(ops, b, "time_s"), get(ops, e, "time_s")
        both = {
            k: get(ops, b, k) + get(ops, e, k)
            for k in ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "input_bytes")
        }
        p = f"operators.{mod}"
        m[f"{p}.build_s"] = (build_s, "s")
        m[f"{p}.exec_s"] = (exec_s, "s")
        m[f"{p}.jobs"] = (both["jobs"], "count")
        m[f"{p}.tasks"] = (both["tasks"], "count")
        m[f"{p}.executor_run_s"] = (both["executor_run_s"], "s")
        m[f"{p}.shuffle_write_bytes"] = (both["shuffle_write_bytes"], "B")
        m[f"{p}.input_bytes"] = (both["input_bytes"], "B")
        m[f"{p}.rows_out"] = (get(ops, e, "rows_out"), "count")
        busy = build_s + exec_s
        m[f"{p}.task_util"] = (both["executor_run_s"] / (busy * nproc) if busy else 0.0, "ratio")

    # tracing overhead on the workload's headline time
    step = "month_load" if workload == "monthly_load" else None

    def headline(traced):
        vals = [
            sum(dt for op, dt in ops_ if step is None or op == step)
            for t, ops_ in passes if t == traced
        ]
        return statistics.median(vals)
    m["trace.overhead_s"] = (headline(True) - headline(False), "s")
    if workload == "monthly_load":
        # the traced month_load splits into layer time plus run_month's
        # own time; the sum is compared with the traced month_load_s
        parts = [
            "pipeline.discovery.time_s", "pipeline.download.time_s",
            "pipeline.manifest.time_s", "sources.encoding.time_s",
            "pipeline.ingest.time_s", "pipeline.run.self_s",
        ]
        out["traced_month_load_s"] = headline(True)
        out["layer_sum_s"] = sum(m[p][0] for p in parts)
    return m


def _tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond
    it, and its value; None below 20 samples."""
    n = len(samples)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(samples, n=100)[pct - 1]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb() -> tuple[float, dict]:
    """Sum of ``VmHWM`` over this process and its descendants (the JVM
    and any Python workers), in MiB, and each process's share."""
    by_process = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = f"{fields['Name'].strip()}-{pid}"
            by_process[name] = int(fields["VmHWM"].split()[0]) / 1024.0
    return sum(by_process.values()), by_process


def _stop(spark) -> None:
    """Stop Spark and the JVM and wait until every child has ended."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def _contract_names(key: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[key]]


def _report(args, result: dict) -> None:
    res_dir = os.path.join(ROOT, "perfbench-results")
    os.makedirs(res_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(res_dir, stem + ".json"), "w") as f:
        json.dump(result, f, indent=1, default=float)

    for name, (value, unit) in result["metrics"].items():
        print(f"{name:32s} {value:14.6f} {unit}")
    print(f"{'samples':32s} {result['samples']['passes']} passes, {result['samples']['ops']} operations")
    for name, (value, unit) in result.get("per_layer", {}).items():
        print(f"{name:48s} {value:16.6f} {unit}")
    if "layer_sum_s" in result:
        print(
            f"traced month_load_s {result['traced_month_load_s']:.4f} = layer times "
            f"{result['layer_sum_s']:.4f} + tracing overhead"
        )
    for key, msgs in list(result["errors"].items())[:5]:
        print(f"FAILED {key}: {msgs[0][:400]}", file=sys.stderr)

    names = _contract_names("per_layer" if args.trace else "end_to_end")
    source = result.get("per_layer", {}) if args.trace else result["metrics"]
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": source[n][0], "unit": source[n][1]} for n in names},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    sys.exit(main())
