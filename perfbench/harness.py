"""One benchmark run: session, set-up, warm-up, timed loop, checks, result.

The timed mode (``trace=False``) reports the end-to-end metrics. The
traced mode (``trace=True``) alternates untraced and traced iterations
over the same window and reports the per-layer metrics, including the
tracing overhead (median traced minus median untraced iteration time).
"""

from __future__ import annotations

import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from perfbench.tracing import Tracer
from perfbench.workloads import PER_LAYER_UNITS, SCALES, WORKLOADS

#: end-to-end metric → unit, as declared in BENCHMARK.json
END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "peak_rss_mb": "MB",
}

#: set-up repetitions per run; setup_s is their median
SETUP_REPEATS = 3
#: untimed full-size iterations before the timed loop: JIT, codegen and
#: Python workers, and on crawl_rollup the cold run that fills the
#: checkpointed state the timed iterations resume. A JIT-cold iteration
#: takes about twice as long as a warm one, at any input size.
WARMUP_ITERATIONS = 1
#: timed iterations per run at the least, whatever ``seconds`` says
MIN_ITERATIONS = 1


def _vm_hwm_mb(pid: int) -> float:
    """Resident-set high-water mark of ``pid`` from /proc, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _collect_garbage(spark) -> None:
    """Full GC in both processes between iterations, outside the timed
    region, so no iteration pays for garbage an earlier one left (this
    also lets Spark's context cleaner drop the earlier shuffles)."""
    gc.collect()
    spark._jvm.java.lang.System.gc()


def host_stamp(root: Path) -> dict:
    """Where and on what the numbers were taken; no normalization applied."""
    mem_kb = next(int(line.split()[1]) for line in
                  Path("/proc/meminfo").read_text().splitlines()
                  if line.startswith("MemTotal:"))
    try:
        commit = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg_start": os.getloadavg(), "python": platform.python_version(),
            "git_commit": commit or None}


def start_session(nproc: int, work: Path, trace: bool):
    from intervalaverage_spark.session import get_spark

    conf = {
        # a small heap keeps a local[n] run from crowding its neighbours
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        scale: str = "full", spark=None) -> tuple[dict, dict]:
    """Run one workload; returns (result line, run record).

    With ``spark`` given the caller owns the session (tests); otherwise
    a session is started and stopped here."""
    root = Path(__file__).resolve().parent.parent
    stamp = host_stamp(root)
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    own_session = spark is None
    t0 = time.perf_counter()
    if own_session:
        spark = start_session(stamp["nproc"], work, trace)
    session_s = time.perf_counter() - t0
    stamp |= {"java": spark._jvm.System.getProperty("java.version"),
              "spark": spark.version}
    tracer = Tracer(spark, enabled=False, work=work)
    wl = WORKLOADS[workload](spark, tracer, work, seed, SCALES[scale])
    failures: list[str] = []
    walls = {False: [], True: []}
    layer_samples: list[dict] = []
    outputs: list[dict] = []
    attempted = failed = 0
    phases: dict[str, float] = {}
    try:
        setup_times, setup_layers = [], []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            setup_layers.append(wl.setup())
            setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(WARMUP_ITERATIONS):
            wl.iterate()
        phases["warmup_s"] = time.perf_counter() - t0
        deadline = time.perf_counter() + seconds
        # a traced run needs an untraced and a traced iteration at the least
        least = max(MIN_ITERATIONS, 2) if trace else MIN_ITERATIONS
        while attempted < least or time.perf_counter() < deadline:
            i = attempted
            attempted += 1
            traced = trace and i % 2 == 1
            _collect_garbage(spark)
            tracer.enabled, tracer.iteration = traced, i
            t0 = time.perf_counter()
            try:
                out = wl.iterate()
            except Exception:  # a failed iteration counts, then ends the run
                failed += 1
                failures.append(f"iteration {i}: {traceback.format_exc(limit=3)}")
                break
            finally:
                tracer.enabled = False
            walls[traced].append(time.perf_counter() - t0)
            outputs.append(out)
            problems = wl.verify_iteration(out, outputs[0])
            if problems:
                failed += 1
                failures += [f"iteration {i}: {p}" for p in problems]
            elif traced:
                m = wl.layer_metrics(out, i)
                top = [s for s in tracer.iteration_spans(i) if s["parent"] is None]
                m["trace.span_coverage"] = sum(s["end"] - s["start"] for s in top) / walls[True][-1]
                layer_samples.append(m)
        phases["timed_s"] = time.perf_counter() - deadline + seconds
        t0 = time.perf_counter()
        if outputs:
            problems = wl.check()
            failures += [f"output check: {p}" for p in problems]
            failed = min(attempted, failed + bool(problems))
        phases["check_s"] = time.perf_counter() - t0
        peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        if own_session:
            stop_session(spark)
    stamp["loadavg_end"] = os.getloadavg()
    result = {"correct": not failures, "attempted": max(attempted, 1), "failed": failed}
    if not outputs:
        result["metrics"] = {}
    elif trace:
        result["metrics"] = _per_layer(layer_samples + setup_layers, walls, session_s)
    else:
        result["metrics"] = _with_units({
            "setup_s": statistics.median(setup_times),
            "job_s": statistics.median(walls[False]),
            "peak_rss_mb": peak_rss,
        }, END_TO_END_UNITS)
    record = {"workload": workload, "seed": seed, "trace": trace, "host": stamp,
              "session_s": session_s, "setup_s": setup_times if outputs else [],
              "phases": phases,
              "iteration_s": walls[False], "traced_iteration_s": walls[True],
              "layer_samples": layer_samples, "spans": tracer.spans,
              "stages": tracer.stages, "failures": failures}
    return result, record


def _per_layer(samples: list[dict], walls: dict, session_s: float) -> dict:
    values = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in values:
        got = [s[k] for s in samples if k in s]
        if got:
            values[k] = statistics.median(got)
    values["session.start_s"] = session_s
    if walls[True] and walls[False]:
        values["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
    return _with_units(values, PER_LAYER_UNITS)


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(workload: str, seed: int, seconds: float, trace: bool) -> int:
    root = Path(__file__).resolve().parent.parent
    base = root / ".perfbench_work"
    work = base / f"{workload}-{seed}-{os.getpid()}"
    try:
        result, record = run(workload, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (base / "records").mkdir(parents=True, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}"
    (base / "records" / f"{name}.json").write_text(json.dumps(record, indent=1))
    for f in record["failures"]:
        print(f, file=sys.stderr)
    print(json.dumps(record["host"]))
    print(json.dumps(result))
    return 0 if result["correct"] else 1
