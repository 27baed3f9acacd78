"""Benchmark driver: one workload per call, or all of them in one process.

    python3 perfbench/run.py --workload submit_jobs --seed 1 \
        --seconds 5 --trace 0
    python3 perfbench/run.py --workload all           # the benchmarked workloads
    python3 perfbench/run.py --self-test              # corrupted output is caught

A run computes the workload's reference from the seed, then sets up three
times: a fresh Spark session on local[nproc] with GC threads pinned to
nproc and a fixed, pre-touched heap, and the seeded input files
(``setup_s`` is the median; the first sample also launches the JVM). It
runs the entry point once to warm up, then again while at least half a
call fits in ``--seconds``. Calls share the session; when an entry point
stops it (materialize_features does), the next session starts outside
the timed region. Every call's committed output is
checked; a failed check counts the call as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
uncompressed event log for the run's sessions, calls untraced and traced
in ABBA order, at least two of each, and prints the per-layer metrics.
The last stdout line is one JSON object; the full record goes to
``.perfbench/records/`` in the checkout. Everything the run writes stays
inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
CPUS = len(os.sched_getaffinity(0))
SETUPS = 3  # set-up samples; setup_s is their median
HEAP = "1g"  # the driver JVM's heap, -Xms = -Xmx
TRACE_PAIRS = 2  # a traced run makes at least this many calls of each kind


def _bootstrap() -> None:
    """Make the checkout's package importable here and in Python workers,
    and keep temporary files inside the checkout."""
    pkg = ROOT / "combinedfeatureextraction_spark" / "__init__.py"
    if not pkg.is_file() or not (ROOT / "jobs" / "materialize_features.py").is_file():
        sys.stderr.write(f"perfbench: the engine's sources are not next to {Path(__file__).parent.name}/\n")
        sys.exit(2)
    sys.path[:0] = [str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["CFE_SPARK_LOCAL_DIR"] = str(tmp / "spark-local")
    os.chdir(ROOT)


# ------------------------------------------------------------------ session


def start_session(event_log: Path | None = None):
    """Stop any active session and start a fresh one; returns (spark,
    seconds spent in get_spark)."""
    from combinedfeatureextraction_spark.session import get_spark

    stop_session()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap, touched at start: G1 growing it in steps made peak
        # memory read 1.6 GB or 3.2 GB for the same call
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:ParallelGCThreads={CPUS} "
            f"-XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={STATE / 'tmp'}"
        ),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.dir"] = str(event_log)
        conf["spark.eventLog.compress"] = "false"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session() -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()


def shutdown_jvm() -> None:
    """Stop Spark, end the JVM and wait for every descendant process."""
    from pyspark import SparkContext

    import procstat

    stop_session()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


# ------------------------------------------------------------ per-layer table

SPAN_METRICS = ("wall_s", "self_s", "jobs", "executor_cpu_s", "executor_noncpu_s",
                "shuffle_write_mb", "spill_mb", "gc_s")
JOB_METRICS = SPAN_METRICS + ("driver_only_s", "task_skew")
BUILD_METRICS = ("wall_s", "self_s", "jobs")
ACTION_METRICS = ("wall_s", "self_s", "jobs", "executor_cpu_s", "shuffle_write_mb")
FAMILIES = ("mask", "component", "hole", "edt", "watershed", "ring")

# span name -> the metrics it reports (suffixes that are zero by
# construction, like shuffle on a build-only span, are left out)
LAYER_SPANS = {
    "jobs.materialize_features.main": JOB_METRICS,
    "jobs.curate_corpus.main": JOB_METRICS,
    "perfbench.ftu_pipeline": JOB_METRICS,
    "plans.pipeline.rowlevel_features": BUILD_METRICS,
    "plans.curation.curate_corpus": BUILD_METRICS,
    "plans.manifest.run_pending": ACTION_METRICS,
    "operators.asof.asof_join": BUILD_METRICS,
    "operators.dedup.dedup_clusters": ACTION_METRICS,
    "operators.fixpoint.connected_components": ACTION_METRICS,
    "operators.aggregates.six_stat_hierarchy": BUILD_METRICS,
    "sources.catalog.write_snapshot": SPAN_METRICS + ("files_written", "mb_written"),
    "sources.annotations.read_annotation_files": BUILD_METRICS,
    "sources.annotations.parse_annotations": BUILD_METRICS,
}

UNITS = {
    "wall_s": ("s", "lower"), "self_s": ("s", "lower"), "jobs": ("count", "lower"),
    "executor_cpu_s": ("s", "lower"), "executor_noncpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
    "gc_s": ("s", "lower"), "driver_only_s": ("s", "lower"),
    "task_skew": ("ratio", "lower"), "files_written": ("count", "lower"),
    "mb_written": ("MB", "lower"), "python_sent_mb": ("MB", "lower"),
    "python_returned_mb": ("MB", "lower"), "ms_per_polygon": ("ms", "lower"),
    "overhead_ratio": ("ratio", "lower"),
    "rows_per_s_traced": ("rows/s", "higher"),
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("session.get_spark.wall_s", "s", "lower")]
    for span, metrics in LAYER_SPANS.items():
        out += [(f"{span}.{m}", *UNITS[m]) for m in metrics]
    for fam in FAMILIES:
        for tag in ("le64", "gt64"):
            out.append((f"multimodal.rasterize.{fam}.ms_per_polygon.{tag}", "ms", "lower"))
    out += [(f"multimodal.{m}", *UNITS[m]) for m in ("python_sent_mb", "python_returned_mb")]
    out += [(f"trace.{m}", *UNITS[m]) for m in ("overhead_ratio", "rows_per_s_traced")]
    return out


END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}


def layer_table(tracer, log, it: dict, outputs: list[Path]) -> dict:
    """One traced call's per-layer numbers, keyed like per_layer_names."""
    import eventlog
    from workloads import snapshot_bytes, snapshot_files

    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    row: dict[str, float] = {}
    spans_out = []
    for name, spans in by_name.items():
        groups = {x.group for s in spans for x in tracer.subtree(s)}
        summ = eventlog.summarize(
            log, groups, min(s.start for s in spans), max(s.end for s in spans)
        )
        summ["wall_s"] = sum(s.wall for s in spans)
        summ["self_s"] = sum(tracer.self_time(s) for s in spans)
        if name == "sources.catalog.write_snapshot":
            summ["files_written"] = sum(len(snapshot_files(p)) for p in outputs)
            summ["mb_written"] = sum(snapshot_bytes(p) for p in outputs) / 1e6
        spans_out.append({"name": name, "calls": len(spans), **summ})
        for m in LAYER_SPANS.get(name, ()):
            row[f"{name}.{m}"] = summ[m]
    everything = eventlog.summarize(
        log, {s.group for s in tracer.spans}, it["t0"], it["t1"]
    )
    row["multimodal.python_sent_mb"] = everything["python_sent_mb"]
    row["multimodal.python_returned_mb"] = everything["python_returned_mb"]
    top = sum(s.wall for s in tracer.spans if s.parent is None)
    it["spans"] = spans_out
    it["sum_self_s"] = sum(sp["self_s"] for sp in spans_out)
    it["unattributed_s"] = it["wall"] - top
    it["jobs_without_span"] = sum(
        1 for j in log.jobs.values()
        if j.group is None and it["t0"] * 1000 <= j.submit_ms <= it["t1"] * 1000
    )
    return row


# ------------------------------------------------------------------ running


def iteration(wl, inp: Path, work: Path, ref: dict, n: int, traced: bool,
              event_log: Path | None = None, corrupt: str | None = None) -> dict:
    """One call of the entry point, timed, checked and (if ``traced``)
    broken down per layer. The session is reused; a new one is started
    only when the entry point stopped the last (materialize_features
    does)."""
    import procstat
    from spans import Tracer
    from workloads import snapshot_bytes

    out = work / "out" / f"call{n}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    spark = active_session()
    if spark is None:
        spark = start_session(event_log)[0]
        # PySpark's accumulator server polls every 0.5 s from the session's
        # start, and a job's closing spark.stop() waits for its next poll.
        # Starting the call a random part of that period after the session
        # spreads the wait over 0-0.5 s, as in real use; a fixed gap made
        # every materialize_features call land on a 0.5 s step.
        time.sleep(random.Random(wl.seed * 7919 + n).uniform(0.0, 0.5))
    app_id = spark.sparkContext.applicationId
    tracer = Tracer(f"call{n}") if traced else None
    if tracer:
        for target, attr, name in wl.patches:
            tracer.patch(target, attr, name)
    it = {"call": n, "traced": traced}
    error = None
    cpu0 = procstat.cpu_seconds()
    with procstat.PeakRss() as peak:
        it["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            if tracer and wl.top_span:
                with tracer.span(wl.top_span):
                    info = wl.run(spark, inp, out)
            else:
                info = wl.run(spark, inp, out)
        except Exception:  # the call failed: counted, not fatal
            error, info = traceback.format_exc(limit=-3), {}
        it["wall"] = time.perf_counter() - t0
        it["t1"] = time.time()
    it["cpu_s"] = procstat.cpu_seconds() - cpu0
    it["peak_rss_mb"] = peak.peak_mb
    if tracer:
        tracer.restore()
    if corrupt and error is None:
        wl.corrupt(out, corrupt, ref)
    if error is None:
        try:
            it["failures"] = wl.check(out, ref, info)
            it["output_mb"] = sum(snapshot_bytes(p) for p in wl.outputs(out)) / 1e6
        except Exception:
            it["failures"] = ["check raised: " + traceback.format_exc(limit=-3)]
    else:
        it["failures"] = [error]
    if tracer and error is None:
        it["layers"] = layer_table(tracer, read_event_log(event_log, app_id), it,
                                   wl.outputs(out))
    shutil.rmtree(out, ignore_errors=True)
    return it


def active_session():
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return s if s is not None and s.sparkContext._jsc is not None else None


def read_event_log(event_log: Path, app_id: str):
    """The application's event log so far. A live application's listener
    queue is drained first so the log holds every finished job."""
    import eventlog

    spark = active_session()
    if spark is not None and spark.sparkContext.applicationId == app_id:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    path = next(p for p in event_log.iterdir() if app_id in p.name)
    return eventlog.parse(path)


def run_workload(wl, seconds: float, trace: bool, ref: dict) -> dict:
    """Set-up, warm-up and the measured loop for one workload."""
    work = STATE / "work" / wl.name
    inp = work / "input"
    event_log = work / "eventlog" if trace else None
    rec: dict = {"setup_samples_s": [], "get_spark_s": []}
    for _ in range(SETUPS):
        # one set-up: a fresh session and freshly generated input files;
        # the first also launches the JVM, which the median leaves out
        shutil.rmtree(inp, ignore_errors=True)
        # stopping the last session waits up to 0.5 s for PySpark's
        # accumulator server; that is not set-up work
        stop_session()
        t0 = time.perf_counter()
        spark, t_spark = start_session(event_log)
        props = wl.prepare(spark, inp)
        rec["setup_samples_s"].append(time.perf_counter() - t0)
        rec["get_spark_s"].append(t_spark)
    rec["input"] = props
    t0 = time.perf_counter()
    calls = [iteration(wl, inp, work, ref, 0, False, event_log)]  # the cold call
    rec["warmup_s"] = time.perf_counter() - t0
    measured: list[dict] = []
    start = time.perf_counter()
    while True:
        # traced runs call in ABBA order (untraced, traced, traced,
        # untraced, ...) so that neither kind always runs earlier in the
        # JVM's warm-up, and make at least TRACE_PAIRS calls of each kind
        traced = trace and len(measured) % 4 in (1, 2)
        measured.append(iteration(wl, inp, work, ref, len(calls), traced, event_log))
        calls.append(measured[-1])
        n_traced = sum(c["traced"] for c in measured)
        elapsed = time.perf_counter() - start
        per_call = elapsed / len(measured)
        # call again while at least half of a call fits in the budget
        if elapsed + per_call / 2 >= seconds and (
                not trace or min(n_traced, len(measured) - n_traced) >= TRACE_PAIRS):
            break
    rec["measure_s"] = time.perf_counter() - start
    rec["calls"] = [{k: v for k, v in c.items() if k not in ("t0", "t1")} for c in calls]
    rec["attempted"] = len(calls)
    rec["failed"] = sum(1 for c in calls if c["failures"])
    rec["error_rate"] = rec["failed"] / rec["attempted"]
    rows = props["rows"]
    untraced = [c for c in measured if not c["traced"] and not c["failures"]]
    traced_calls = [c for c in measured if c["traced"] and not c["failures"]]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    rec["metrics"] = {
        "rows_per_s": rows / med([c["wall"] for c in untraced]) if untraced else 0.0,
        "setup_s": med(rec["setup_samples_s"]),
        "cpu_s": med([c["cpu_s"] for c in untraced]),
        "peak_rss_mb": med([c["peak_rss_mb"] for c in untraced]),
        "output_mb": med([c["output_mb"] for c in untraced]),
    }
    if trace:
        layers = {}
        for name, _, _ in per_layer_names():
            vals = [c["layers"][name] for c in traced_calls if name in c["layers"]]
            layers[name] = med(vals)
        layers["session.get_spark.wall_s"] = med(rec["get_spark_s"])
        for key, ms in ref.get("kernel_ms", {}).items():
            fam, tag = key.split(".")
            layers[f"multimodal.rasterize.{fam}.ms_per_polygon.{tag}"] = ms
        tw = med([c["wall"] for c in traced_calls])
        uw = med([c["wall"] for c in untraced])
        layers["trace.overhead_ratio"] = tw / uw if uw else 0.0
        layers["trace.rows_per_s_traced"] = rows / tw if tw else 0.0
        rec["per_layer"] = layers
    return rec


def references(wls) -> dict:
    """Each workload's reference, computed before the JVM starts."""
    shutil.rmtree(STATE / "work", ignore_errors=True)
    refs = {}
    for wl in wls:
        work = STATE / "work" / wl.name
        work.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        refs[wl.name] = wl.reference(work)
        refs[wl.name]["seconds"] = time.perf_counter() - t0
    return refs


def host_info() -> dict:
    import pyspark
    from pyspark import SparkContext

    try:  # the benchmark's checkout need not be a git repository
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=30, cwd=ROOT).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    jvm = SparkContext._jvm
    return {
        "git_commit": commit if len(commit) == 40 else "unknown",
        "nproc": CPUS,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.runtime.version") if jvm else "unknown",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="tiny inputs; a dropped row and a perturbed feature "
                         "must each fail the output check")
    args = ap.parse_args(argv)
    _bootstrap()
    import workloads

    names = list(workloads.BENCHMARKED) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in workloads.WORKLOADS]
    if unknown:
        ap.error(f"unknown workload {unknown[0]}; choose from {list(workloads.WORKLOADS)} or all")
    if args.self_test:
        import selftest

        return selftest.main(names)

    load_before = os.getloadavg()
    wls = [workloads.WORKLOADS[n](args.seed) for n in names]
    refs = references(wls)
    results = {}
    try:
        for wl in wls:
            results[wl.name] = run_workload(wl, args.seconds, bool(args.trace), refs[wl.name])
        host = {**host_info(), "loadavg_before": load_before,
                "loadavg_after": os.getloadavg()}
    finally:
        shutdown_jvm()
        shutil.rmtree(STATE / "work", ignore_errors=True)

    records = STATE / "records"
    records.mkdir(parents=True, exist_ok=True)
    lines = []
    for name, rec in results.items():
        rec = {"workload": name, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "host": host,
               "reference_s": refs[name]["seconds"], **rec}
        path = records / f"{name}-seed{args.seed}-trace{args.trace}.json"
        path.write_text(json.dumps(rec, indent=1, default=float))
        sys.stderr.write(f"perfbench: record {path.relative_to(ROOT)}\n")
        if args.trace:
            metrics = {n: {"value": rec["per_layer"][n], "unit": u}
                       for n, u, _ in per_layer_names()}
        else:
            metrics = {n: {"value": rec["metrics"][n], "unit": u} for n, u in END_TO_END.items()}
        for c in rec["calls"]:
            for f in c["failures"]:
                sys.stderr.write(f"perfbench: {name} call {c['call']} failed: {f}\n")
        for n, m in metrics.items():
            sys.stderr.write(f"{name:18s} {n:60s} {m['value']:14.4f} {m['unit']}\n")
        lines.append((name, rec, metrics))

    attempted = sum(r["attempted"] for _, r, _ in lines)
    failed = sum(r["failed"] for _, r, _ in lines)
    if len(lines) == 1:
        metrics = lines[0][2]
    else:
        metrics = {f"{name}.{n}": m for name, _, ms in lines for n, m in ms.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
