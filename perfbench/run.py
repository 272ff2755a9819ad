"""Benchmark harness for thundercats_spark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed under
``.perfbench_work/`` in the repository root (cached per seed); the
library is driven only through its public functions on a
``local[<cpus>]`` session. With ``--trace 0`` the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics; with ``--trace 1`` the metrics are the per-layer ones. The
line before it carries the full detail (all named metrics, host
fingerprint, per-span engine counts). ``--workload all`` runs every
workload in its own process and prints each one's metrics by name.

Exits 2 when the library cannot be imported, 1 when any output check
fails or an operation raises, 3 on the run-time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

WORKLOAD_NAMES = ("etl_star", "llm_curation", "ann_serving", "stream_ingest")
SETUP_REPS = 3
TIME_LIMIT_S = 150

# end-to-end metrics printed by a --trace 0 run (see BENCHMARK.json)
E2E_UNITS = {"setup_s": "s", "job_s": "s", "peak_rss_mb": "MB",
             "output_quality": "ratio"}

# the named metrics of each workload, printed in the detail line and by
# --workload all
DETAIL_UNITS = {
    "setup_s": "s", "job_s": "s", "peak_rss_mb": "MB", "fail_ratio": "ratio",
    "dedup_recall": "ratio", "dedup_precision": "ratio",
    "probe_p50_ms": "ms", "probe_p90_ms": "ms", "append_p50_ms": "ms",
    "ann_recall_at_10": "ratio", "ingest_lag_p50_s": "s",
    "ingest_lag_p90_s": "s", "backlog_files": "count",
}

# per-layer metric -> span whose self time it reports
SPAN_METRICS = {
    "physical.io.read_s": "physical.io.read",
    "physical.io.write_s": "physical.io.write",
    "physical.ops.join_s": "physical.ops.join",
    "physical.ops.agg_s": "physical.ops.agg",
    "physical.ops.sort_s": "physical.ops.sort",
    "preprocess.text.s": "preprocess.text",
    "functions.text_analysis.s": "functions.text_analysis",
    "quality.classifier.score_s": "quality.classifier.score",
    "functions.bpe.encode_s": "functions.bpe.encode",
    "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.minhash_s": "operators.dedup.minhash",
    "operators.components.s": "operators.components",
    "operators.curation.decontam_s": "operators.curation.decontam",
    "operators.curation.pack_s": "operators.curation.pack",
    "operators.similarity.probe_s": "operators.similarity.probe",
    "operators.similarity.append_s": "operators.similarity.append",
}
# per-layer metric -> set-up span (median over the set-up repetitions)
SETUP_SPAN_METRICS = {
    "functions.bpe.train_s": "functions.bpe.train",
    "quality.classifier.train_s": "quality.classifier.train",
    "operators.similarity.build_s": "operators.similarity.build",
}
# per-layer metrics counted by the workloads (median over traced jobs)
COUNT_METRICS = {
    "physical.io.bytes_written": "bytes",
    "physical.io.files_written": "count",
    "physical.io.write_amp": "ratio",
    "functions.bpe.tokens": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.components.groups": "count",
    "operators.curation.pack_fill": "ratio",
}
STREAM_METRICS = {
    "streaming.windows.batch_s": "s",
    "streaming.windows.rows_per_batch": "count",
    "streaming.windows.state_rows": "count",
    "operators.incremental.fold_s": "s",
}
ENGINE_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.sched_delay_s": "s", "spark.task_skew": "ratio",
}


def layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    units.update({k: "s" for k in SPAN_METRICS})
    units.update({k: "s" for k in SETUP_SPAN_METRICS})
    units.update(COUNT_METRICS)
    units["operators.similarity.bytes_read_per_probe"] = "bytes"
    units.update(STREAM_METRICS)
    units.update(ENGINE_UNITS)
    units["trace_overhead_s"] = "s"
    return units


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def pin_env(run_dir: str) -> int:
    """Pin what the library reads from the environment: the local core
    count (``get_spark`` would default to 32), the Python worker import
    path, the driver heap cap and every scratch location (kept inside
    the checkout)."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # the library's 8g driver default is sized for its local[32] test
    # harness; at 8g, G1 grows this benchmark's heap to 3-4 GB, by an
    # amount set by GC timing on a shared host. The heap is capped, not
    # fixed: it grows only as the program allocates.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, the spark-submit launcher's too, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def library_available() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import thundercats_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library: {e}", file=sys.stderr)
        return False
    return True


def new_session(run_dir: str, trace: bool):
    from thundercats_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{run_dir}/spark-local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
    }
    if trace:
        os.makedirs(f"{run_dir}/eventlog", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{run_dir}/eventlog"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    import sysprobe

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    end = time.time() + 15
    me = os.getpid()
    while time.time() < end:
        left = [p for p in sysprobe.descendants(me) if p != me]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# --------------------------------------------------------------------------
# one workload in this process
# --------------------------------------------------------------------------


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_env(run_dir)
    if not library_available():
        return 2

    import gen
    import sysprobe
    import tracing as tr
    from workloads import WORKLOADS, Ctx

    spark = None
    try:
        t0 = time.perf_counter()
        phases: dict[str, float] = {}
        inputs = gen.inputs(os.path.join(WORK, "inputs"), name, seed)
        phases["generate"] = time.perf_counter() - t0
        tracer = tr.Tracer(enabled=False, run_id=f"{name}-{seed}")
        ctx = Ctx(None, inputs, run_dir, tracer)
        w = WORKLOADS[name](ctx)
        w.prepare()
        fp = sysprobe.fingerprint()

        with sysprobe.PeakMemory() as mem:
            # set-up: a cold JVM launch and a first query, then the
            # one-time builds, repeated each on a fresh session of that
            # JVM; setup_s = launch + median(session start + builds). The
            # launch runs once: each repeat would cost a run ~9 s.
            t0 = time.perf_counter()
            spark = new_session(run_dir, trace)
            spark.range(200_000).selectExpr("sum(id)").collect()
            session_start = time.perf_counter() - t0
            builds = []
            for rep in range(SETUP_REPS):
                if rep:
                    w.end_session()
                spark.stop()
                t0 = time.perf_counter()
                spark = new_session(run_dir, trace)
                ctx.spark = tracer.spark = spark
                tracer.enabled = trace
                w.setup()
                tracer.enabled = False
                builds.append(time.perf_counter() - t0)
            setup = session_start + statistics.median(builds)
            phases["setup"] = session_start + sum(builds)
            fp["jvm_launch_s"] = round(session_start, 3)
            t0 = time.perf_counter()
            w.warm()
            phases["warm"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            window = measure(w, ctx, seconds, trace)
            phases["window"] = time.perf_counter() - t0
            w.finish()
            stream_run_id = (str(w.query.runId)
                             if name == "stream_ingest" else None)
        shutdown(spark)
        spark = None

        t0 = time.perf_counter()
        extra, check_failed, figures = w.check()
        phases["check"] = time.perf_counter() - t0
        attempted = window["attempted"] + extra
        failed = window["failed"] + check_failed
        detail = {
            "workload": name, "seed": seed, "seconds": seconds,
            "trace": int(trace), "host": fp,
            "ops": window["kinds"],
            "phases_s": {k: round(v, 3) for k, v in phases.items()},
            "setup_builds_s": [round(b, 3) for b in builds],
            "memory_at_peak_mb": {k: round(v, 1)
                                  for k, v in mem.at_peak.items()},
        }
        if "generator_late_s" in window:
            detail["generator_late_s"] = window["generator_late_s"]
        if trace:
            layers, per_span = layer_metrics(w, tracer, window,
                                             session_start, run_dir,
                                             stream_run_id)
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layers.items()}
            detail["spans"] = per_span
            detail["spans_file"] = os.path.join(
                WORK, f"spans-{name}-{seed}.jsonl")
            tracer.dump(detail["spans_file"])
        else:
            e2e = e2e_metrics(w, window, setup, mem.peak, figures,
                              attempted, failed)
            detail["metrics"] = {k: {"value": v, "unit": DETAIL_UNITS[k]}
                                 for k, v in e2e.items()
                                 if k in DETAIL_UNITS}
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
        print(json.dumps({"detail": detail}), flush=True)
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None or _gateway_alive():
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _gateway_alive() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None


def measure(w, ctx, seconds: float, trace: bool) -> dict:
    """Run the workload's ops for ``seconds``. In the traced run, ops
    alternate untraced / traced so the tracing overhead is measured in
    the same process."""
    if w.name == "stream_ingest":
        res = w.run_window(seconds)
        res["kinds"] = {"file": res["attempted"]}
        res["lat"] = {"job": res["lags"]}
        res["traced"] = {}
        return res
    lat: dict[str, list[float]] = {}
    traced_lat: dict[str, list[float]] = {}
    kinds: dict[str, int] = {}
    attempted = failed = 0
    i = 0
    start = time.perf_counter()
    # ops run in whole cycles (e.g. probes then an append) so every run
    # measures the same request mix
    while (time.perf_counter() - start < seconds or i % w.CYCLE
           or i < w.MIN_OPS or (trace and not traced_lat)):
        traced = trace and i % 2 == 1
        ctx.tracer.enabled = traced
        t0 = time.perf_counter()
        attempted += 1
        try:
            with ctx.span("job"):
                kind = w.op(i)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            kind = "failed"
        dt = time.perf_counter() - t0
        ctx.tracer.enabled = False
        kinds[kind] = kinds.get(kind, 0) + 1
        if kind != "failed":
            (traced_lat if traced else lat).setdefault(kind, []).append(dt)
        i += 1
    return {"attempted": attempted, "failed": failed, "kinds": kinds,
            "lat": lat, "traced": traced_lat}


def e2e_metrics(w, window, setup, peak_mem, figures, attempted, failed):
    lat = window["lat"]
    m = {"setup_s": setup, "peak_rss_mb": peak_mem,
         "fail_ratio": failed / max(1, attempted),
         "output_quality": figures["output_quality"]}
    for k in ("dedup_recall", "dedup_precision", "ann_recall_at_10"):
        if k in figures:
            m[k] = figures[k]
    if w.name == "ann_serving":
        probes, appends = lat.get("probe", []), lat.get("append", [])
        m["probe_p50_ms"] = 1e3 * statistics.median(probes)
        m["probe_p90_ms"] = 1e3 * pct(probes, 90)
        m["append_p50_ms"] = 1e3 * statistics.median(appends)
        # closed loop at a fixed probe:append mix: the mix's mean request
        # time, from per-kind medians so one slow request does not swing it
        n = w.PROBES_PER_APPEND
        m["job_s"] = (n * statistics.median(probes)
                      + statistics.median(appends)) / (n + 1)
    elif w.name == "stream_ingest":
        lags = lat["job"]
        m["ingest_lag_p50_s"] = statistics.median(lags)
        m["ingest_lag_p90_s"] = pct(lags, 90)
        m["backlog_files"] = window["backlog_files"]
        m["job_s"] = m["ingest_lag_p50_s"]
    else:
        m["job_s"] = statistics.median(lat["job"])
    return m


def layer_metrics(w, tracer, window, session_start, run_dir,
                  stream_run_id):
    """Per-layer metrics from the spans, the workload's counts, the
    stream's progress reports and the Spark event log. Layers the
    workload does not reach report 0."""
    import tracing as tr

    units = layer_units()
    out = {k: 0.0 for k in units}
    out["session.start_s"] = session_start

    roots = [s for s in tracer.spans if s.name == "job"]
    st = tr.self_times(tracer.spans)
    by_root: dict[int, dict[str, float]] = {}
    parent_root = {}
    for s in tracer.spans:
        r = s.span_id if s.name == "job" else parent_root.get(s.parent)
        parent_root[s.span_id] = r
        if r is not None and s.name != "job":
            d = by_root.setdefault(r, {})
            d[s.name] = d.get(s.name, 0.0) + st[s.span_id]
    for metric, span in SPAN_METRICS.items():
        vals = [by_root.get(r.span_id, {}).get(span) for r in roots]
        vals = [v for v in vals if v is not None]
        if vals:
            out[metric] = statistics.median(vals)
    setup_spans = tr.self_time_by_name(
        [s for s in tracer.spans if parent_root.get(s.span_id) is None])
    for metric, span in SETUP_SPAN_METRICS.items():
        if span in setup_spans:
            out[metric] = statistics.median(setup_spans[span])
    for metric, vals in w.counts.items():
        out[metric] = statistics.median(vals)

    engine = tr.engine_by_group(os.path.join(run_dir, "eventlog"))
    per_span = tr.engine_by_span(tracer.spans, engine, tracer)
    if stream_run_id is not None:
        prog = window["progress"]
        dur = [p["durationMs"] for p in prog]
        out["streaming.windows.batch_s"] = statistics.median(
            d.get("triggerExecution", 0) / 1e3 for d in dur)
        out["operators.incremental.fold_s"] = statistics.median(
            d.get("addBatch", 0) / 1e3 for d in dur)
        out["streaming.windows.rows_per_batch"] = statistics.median(
            p["numInputRows"] for p in prog)
        out["streaming.windows.state_rows"] = w.state_rows
        per_span["streaming.windows"] = engine.get(stream_run_id, {})
        job_totals, n_jobs = [per_span["streaming.windows"]], max(1, len(prog))
    else:
        job_totals = [engine.get(tracer.group_id(s), {})
                      for s in tracer.spans
                      if parent_root.get(s.span_id) is not None
                      and s.name != "trace.count"]
        n_jobs = max(1, len(roots))
        probes = [s for s in tracer.spans
                  if s.name == "operators.similarity.probe"]
        if probes:
            out["operators.similarity.bytes_read_per_probe"] = per_span[
                "operators.similarity.probe"]["spark.input_bytes"] / len(probes)
        # compared on the workload's main op kind (probes for ann_serving)
        both = [k for k in window["traced"] if k in window["lat"]]
        if both:
            k = max(both, key=lambda k: len(window["lat"][k]))
            out["trace_overhead_s"] = (statistics.median(window["traced"][k])
                                       - statistics.median(window["lat"][k]))
    for k in ENGINE_UNITS:
        vals = [g.get(k, 0) for g in job_totals]
        if k == "spark.task_skew":
            out[k] = max(vals, default=0.0)
        else:
            out[k] = sum(vals) / n_jobs
    return ({k: (float(v), units[k]) for k, v in out.items()}, per_span)


# --------------------------------------------------------------------------
# every workload, one process each
# --------------------------------------------------------------------------


def run_all(seed: int, seconds: float, trace: bool) -> int:
    results = {}
    ok = True
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode == 2 or len(lines) < 2:
            print(f"{name}: no result (exit {proc.returncode})",
                  file=sys.stderr)
            return proc.returncode or 1
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        ok &= proc.returncode == 0 and result["correct"]
        results[name] = (detail, result)

    metrics = {}
    attempted = failed = 0
    for name, (detail, result) in results.items():
        attempted += result["attempted"]
        failed += result["failed"]
        shown = result["metrics"] if trace else detail["metrics"]
        print(f"== {name}  correct={result['correct']}  "
              f"attempted={result['attempted']}  failed={result['failed']}")
        for k, m in shown.items():
            if trace and m["value"] == 0:
                continue  # a layer this workload bypasses
            print(f"  {k:44s} {m['value']:14.6g} {m['unit']}")
            metrics[f"{name}.{k}"] = m
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(TIME_LIMIT_S)
    try:
        return run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)


if __name__ == "__main__":
    sys.exit(main())
