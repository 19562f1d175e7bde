"""Benchmark of the feature engine, timed from outside its public entry
points.

    python3 perfbench/run.py --workload features121 --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Load model: a closed loop with one client.  The next job is submitted
only after the previous one has completed, on ``build_session`` defaults
with an explicit ``local[nproc]`` master, in a fresh process per
workload.  Inputs come from ``--seed`` alone and are generated (or taken
from the cache) before anything is timed.

``--trace 0`` measures the end-to-end metrics: ``setup_s`` is the median
of several cold set-ups (a new driver JVM, ``build_session`` and the
workload's job on a small warm-up input); ``job_s`` is the median wall
time of a verified job; ``peak_rss_mb`` is the peak summed RSS of the
driver JVM and the Python workers during the timed jobs.

``--trace 1`` is the separate traced run: the same jobs once untraced and
once with the Spark event log on and spans around every call (their
ratio is the tracing overhead), then every layer of the engine is
decomposed on the seed's inputs.  See ``perfbench/layers.json`` for the
layer -> end-to-end metric map.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2


def _env_inside_checkout(work: str) -> None:
    """Keep Spark's scratch files, Python temp files and the JVM's temp
    directory inside the checkout (no memory or allocator setting)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def timed_jobs(w, spark, seconds: float, rss=None, tracer=None):
    """Closed loop: run jobs one at a time until their summed wall time
    reaches ``seconds``.  Returns (verified wall times, attempted,
    failed, all wall times, per-job peak RSS in MiB)."""
    import sessions

    verified, walls, peaks = [], [], []
    attempted = failed = 0
    i = 0
    while not walls or sum(walls) < seconds:
        w.before_job(i)
        if rss is not None:
            rss.reset()
            rss.active.set()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = w.job(spark, i)
            else:
                with tracer.span("job", job=i):
                    result = w.job(spark, i)
            ok = True
        except Exception:
            _log(traceback.format_exc())
            ok = False
        dt = time.perf_counter() - t0
        if rss is not None:
            rss.poll()
            rss.active.clear()
            peaks.append(rss.peaks_mb()[0])
        attempted += 1
        walls.append(dt)
        _log(f"job {i}: {dt:.3f} s")
        if ok:
            problems = w.check(spark, i, result)
            if problems:
                _log(f"job {i} failed its output check: {problems[:5]}")
                failed += 1
            else:
                verified.append(dt)
        else:
            failed += 1
            if not sessions.jvm_alive(spark):
                _log("the driver JVM died; jobs are not retried")
                break
        i += 1
    return verified, attempted, failed, walls, peaks


def measured_run(w, seconds: float) -> dict:
    import sessions
    from procmon import RssSampler

    setups = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark, _ = sessions.start()
        w.warm(spark)
        setups.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            sessions.stop(spark)
    try:
        w.prepare(spark)
        with RssSampler() as rss:
            verified, attempted, failed, walls, peaks = timed_jobs(
                w, spark, seconds, rss)
        final = w.finish(spark) if sessions.jvm_alive(spark) else [
            "the driver JVM died"]
    finally:
        sessions.stop(spark)
    if final:
        _log(f"output check failed: {final[:5]}")
        failed = attempted
    times = verified or walls
    job_s = statistics.median(times)
    return {
        "attempted": attempted, "failed": failed, "n_jobs": len(times),
        "metrics": {
            "setup_s": (statistics.median(setups), "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (w.rows_per_job() / job_s, "rows/s"),
            "peak_rss_mb": (statistics.median(peaks), "MB"),
        },
        "extras": w.extras(),
    }


def traced_run(w, seconds: float, seed: int, work: str, out_dir: str) -> dict:
    import sessions
    import tracing
    from procmon import RssSampler
    from workloads import WORKLOADS

    # half the window untraced, half traced: the traced run still
    # measures ``seconds`` of jobs and stays well inside its time limit
    spark, _ = sessions.start()
    try:
        w.warm(spark)
        w.prepare(spark)
        plain, *_ = timed_jobs(w, spark, seconds / 2)
    finally:
        sessions.stop(spark)

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    metrics: dict[str, float] = {}
    finalizers = []
    with RssSampler() as rss:
        rss.active.set()
        spark, build_s = sessions.start(tracing.event_log_conf(log_dir))
        try:
            gc0 = sessions.gc_seconds(spark)
            tracer = tracing.Tracer(spark)
            w.warm(spark)
            traced, attempted, failed, *_ = timed_jobs(
                w, spark, seconds / 2, tracer=tracer)
            final = w.finish(spark)
            if final:
                _log(f"output check failed: {final[:5]}")
                failed = attempted
            for name, cls in WORKLOADS.items():
                layer_w = w if name == w.name else cls(seed, work)
                with tracer.span(f"layers.{name}"):
                    m, fin = layer_w.layers(spark, tracer)
                metrics.update(m)
                finalizers.append(fin)
            metrics["session.jvm_gc_s"] = sessions.gc_seconds(spark) - gc0
        finally:
            sessions.stop(spark)
        _, jvm_mb, py_mb = rss.peaks_mb()
    log = tracing.EventLog.from_dir(log_dir)
    for fin in finalizers:
        metrics.update(fin(log))
    tracer.write(os.path.join(out_dir,
                              f"spans_{w.name}_seed{seed}.json"))
    metrics.update({
        "session.build_s": build_s,
        "session.jvm_peak_mb": jvm_mb,
        "session.py_workers_peak_mb": py_mb,
        "trace.overhead_ratio": (statistics.median(traced)
                                 / statistics.median(plain)),
    })
    # printed beside the layers, e.g. funnel_s next to the job it is in
    extras = {"job_s": (statistics.median(plain), "s"),
              "traced_job_s": (statistics.median(traced), "s")}
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: (float(v), None) for k, v in metrics.items()},
            "extras": extras}


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"]
            + spec["per_layer"]}


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "atr_adaptive_laguerre_spark")):
        _log(f"no engine sources under {ROOT}; run from a checkout")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}"
             f" or 'all'")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _env_inside_checkout(work)
    try:
        w = WORKLOADS[args.workload](args.seed, work)   # inputs, untimed
        if args.trace:
            res = traced_run(w, args.seconds, args.seed, work, out_dir)
        else:
            res = measured_run(w, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = _units()
    shown = {**res["extras"], **res["metrics"]}
    frac = res["failed"] / res["attempted"]
    parts = [f"{k}={v:.6g} {u or units.get(k, '')}".rstrip()
             for k, (v, u) in shown.items()]
    parts.append(f"ops_failed_frac={frac:.6g} ratio")
    if "n_jobs" in res:
        parts.append(f"(job_s over {res['n_jobs']} jobs)")
    print(f"{args.workload}: " + "  ".join(parts), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u or units[k]}
                    for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process; exits non-zero when any
    run fails or reports a failed output check."""
    from workloads import WORKLOADS

    bad = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line, flush=True)
        ok = p.returncode == 0 and lines and json.loads(lines[-1])["correct"]
        bad += not ok
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
