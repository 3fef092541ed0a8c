"""One fresh benchmark process: build the session, run the workload's
pipeline once cold and then repeatedly warm, check every output, and
write the measurements as JSON.

Started by run.py with its working directory, SPARK_LOCAL_DIRS and TMPDIR
inside the benchmark's scratch area.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

MIN_WARM = 3            # warm reps per run, whatever --seconds says
MIN_WARM_TRACED = 4     # U T T U: two of each for the overhead ratio


def session_conf() -> dict:
    """Public Context options sized by run.py: the executor thread count
    and a driver heap that the pre-touch can commit."""
    return {"tuplex.executorCount": int(os.environ["PERFBENCH_EXECUTORS"]),
            "tuplex.driverMemory": os.environ["PERFBENCH_DRIVER_MEMORY"],
            "tuplex.scratchDir": os.environ["SPARK_LOCAL_DIRS"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", help="write the traced run's spans here")
    ap.add_argument("--budget", type=float, default=150,
                    help="start no warm rep that would end after this "
                         "many seconds from process start")
    args = ap.parse_args()

    from spans import RssSampler
    sampler = RssSampler().start()
    import tuplex_spark as tx
    t0 = time.perf_counter()
    ctx = tx.Context(conf=session_conf(), name="perfbench")
    setup_s = time.perf_counter() - t0
    try:
        ctx.spark.sparkContext.setLogLevel("ERROR")
        result = run(ctx, args, setup_s, sampler)
    finally:
        ctx.spark.stop()
        sampler.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def run(ctx, args, setup_s, sampler) -> dict:
    from workloads import WORKLOADS
    wl = WORKLOADS[args.workload]
    ref = wl.load_reference(args.data)
    out = os.path.abspath("out")
    tracer = probe = None
    if args.trace:
        from spans import SparkProbe, Tracer
        tracer, probe = Tracer(), SparkProbe(ctx.spark)

    reps = []

    def one(traced: bool) -> dict:
        rep = {"traced": traced, "ok": False}
        try:
            if traced:
                rep.update(traced_job(ctx, wl, args.data, out, ref,
                                      tracer, probe))
            else:
                t0 = time.perf_counter()
                built = wl.build(ctx, args.data)
                t1 = time.perf_counter()
                result = wl.act(built, out)
                t2 = time.perf_counter()
                rep.update(plan_s=t1 - t0, job_s=t2 - t0,
                           ok=wl.check(ref, result, out))
        except Exception:  # noqa: BLE001 - a failed pipeline is counted
            traceback.print_exc()
        reps.append(rep)
        print(f"rep {len(reps)} traced={traced} ok={rep['ok']} "
              f"plan_s={rep.get('plan_s')} job_s={rep.get('job_s')}",
              file=sys.stderr, flush=True)
        return rep

    one(bool(args.trace))              # cold: first pipeline in process
    t_warm = time.perf_counter()
    min_warm = MIN_WARM_TRACED if args.trace else MIN_WARM
    while True:
        warm = len(reps) - 1
        # traced runs interleave untraced and traced reps (U T T U ...),
        # so the tracing overhead is measured in the same process without
        # favouring either side with later, warmer reps
        t_rep = time.perf_counter()
        one(bool(args.trace) and warm % 4 in (1, 2))
        now = time.perf_counter()
        if now - t_warm >= args.seconds and len(reps) - 1 >= min_warm:
            break
        # on a host too slow for the run's time limit, report what was
        # measured rather than being killed mid-rep
        if now - T_START + (now - t_rep) > args.budget:
            break
    sampler.poll()
    print("peak rss by process (pid:name:MB):", *sampler.breakdown(),
          file=sys.stderr, flush=True)
    if tracer is not None and args.spans:
        tracer.dump(args.spans)
    return {"setup_s": setup_s, "reps": reps,
            "peak_rss_mb": sampler.total_mb(),
            "python_worker_peak_mb": sampler.python_workers_mb(),
            "rows": wl.rows}


def traced_job(ctx, wl, data, out, ref, tracer, probe) -> dict:
    """One pipeline with spans around every layer call and the status
    store read after the action."""
    bus = ctx.spark.sparkContext._jsc.sc().listenerBus()
    m = ctx.metrics
    m0 = (m.totalCompilationTime, m.compiledUDFs, m.fallbackUDFs)
    jobs0 = probe.job_ids()
    execs0 = probe.execution_ids()
    tracer.install()
    try:
        job = tracer.open("job")
        with tracer.span("dataset.build") as build:
            built = wl.build(ctx, data)
        with tracer.span("dataset.action") as action:
            result = wl.act(built, out)
        tracer.close(job)
    except BaseException:
        tracer.reset()
        raise
    finally:
        tracer.uninstall()
    # jobs and SQL executions are told apart by submission time, read
    # after the job, so no status-store call lands inside the timed spans
    bus.waitUntilEmpty()
    t_action = tracer.to_epoch_ms(action.start)
    new_jobs = probe.jobs(probe.job_ids() - jobs0)
    action_jobs = [j for j in new_jobs if (j["start"] or 0) >= t_action]
    for j in action_jobs:
        if j["start"] and j["end"]:
            tracer.add_closed("exec.job", tracer.from_epoch_ms(j["start"]),
                              tracer.from_epoch_ms(j["end"]), action)
    ok = wl.check(ref, result, out)

    from spans import plan_counts
    plans = [plan_counts(p) for p in
             probe.plans(probe.execution_ids() - execs0, t_action)]
    from tuplex_spark.dataset import DataSet
    frames = [b.toDF() if isinstance(b, DataSet) else b
              for b in (built if isinstance(built, list) else [built])]
    exec_m = probe.stage_metrics(action_jobs)
    action_s = action.end - action.start
    compiled = m.compiledUDFs - m0[1]
    fallback = m.fallbackUDFs - m0[2]
    st = wl.stats(ref, result)
    raised = st["exception_rows"] + st["resolved"]
    recog = [s for s in tracer.within(job)
             if s.name == "aggregate.recognize"]
    layer = {
        "context.source_open_s": tracer.total(job, "context.source_open"),
        "sources.detect_s": tracer.total(job, "sources.detect"),
        "compiler.compile_s": m.totalCompilationTime - m0[0],
        "compiler.compiled_udfs": compiled,
        "compiler.fallback_udfs": fallback,
        "compiler.compiled_frac": compiled / max(compiled + fallback, 1),
        "compiler.plan_chars": sum(
            len(f._jdf.queryExecution().optimizedPlan().toString())
            for f in frames),
        "compiler.codegen_stages": sum(p["codegen_stages"] for p in plans),
        "fallback.python_nodes": sum(p["python_nodes"] for p in plans),
        "dataset.build_s": (build.end - build.start)
        - tracer.total(build, "compiler.compile"),
        "dataset.plan_jobs": len(new_jobs) - len(action_jobs),
        "dataset.action_s": action_s,
        "dataset.spark_jobs": len(action_jobs),
        "dataset.exception_rows": st["exception_rows"],
        "dataset.resolved_frac": st["resolved"] / max(raised, 1),
        "join.call_s": tracer.total(job, "join.call"),
        "join.broadcast_joins": sum(p["broadcast_joins"] for p in plans),
        "join.shuffle_joins": sum(p["shuffle_joins"] for p in plans),
        "aggregate.call_s": tracer.total(job, "aggregate.call"),
        "aggregate.native_folds": sum(1 for s in recog
                                      if s.result is not None),
        "functions.call_s": tracer.total(job, "functions.call"),
        "functions.kept_frac": st.get("kept", 0) / max(st.get("docs", 0), 1),
    }
    for k, v in exec_m.items():
        layer[f"exec.{k}"] = v
    layer["exec.cpu_busy_frac"] = exec_m["task_cpu_s"] / max(
        action_s * probe.cores, 1e-9)
    for k, v in tracer.self_times(job).items():
        layer[f"self.{k}_s"] = v
    return {"plan_s": build.end - build.start, "job_s": job.end - job.start,
            "ok": ok, "layer": layer}


if __name__ == "__main__":
    sys.exit(main())
